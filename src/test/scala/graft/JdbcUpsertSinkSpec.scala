package graft

import java.sql.DriverManager

import graft.streaming.JdbcUpsertSink

/** The real-JDBC half of the T8/database.py sink story: the same
  * exactly-once contract JdbcShapedSinkSpec proves against the filesystem,
  * here against an actual JDBC endpoint (in-JVM embedded Derby — ships in
  * /opt/spark/jars, zero network): idempotent DDL with a live PRIMARY KEY,
  * staged executor writes, server-side MERGE + ledger in one transaction,
  * and the dup-tolerant set-based append. */
class JdbcUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  // keep derby.log out of the repo root
  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft-derby").toString)

  private def mkSink(): (String, JdbcUpsertSink, () => Map[Long, (Long, String)]) = {
    val url = "jdbc:derby:memory:g" +
      java.util.UUID.randomUUID.toString.replace("-", "") + ";create=true"
    val sink = new JdbcUpsertSink(url, "joblistings", Seq("job_id"), "scraped_at")
    val read = () => sink.table(spark).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    (url, sink, read)
  }

  test("replayed batchId skipped; new-id re-delivery converges; newer version wins") {
    val (_, sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a"), (2L, 10L, "b"))
      .toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // foreachBatch at-least-once: the SAME batch id arrives again
    sink.writeBatch(b0, 0L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // checkpoint loss: same rows under a NEW id — MERGE itself idempotent
    sink.writeBatch(b0, 1L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))

    // real new version for key 2 (incoming wins) plus a new key 3;
    // within-batch duplicate of key 3 must collapse before the MERGE
    val b2 = Seq((2L, 20L, "b2"), (3L, 10L, "c"), (3L, 5L, "stale"))
      .toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b2, 2L)
    assert(read() ==
      Map(1L -> ((10L, "a")), 2L -> ((20L, "b2")), 3L -> ((10L, "c"))))
  }

  test("DDL is idempotent and the PRIMARY KEY is live") {
    val (url, sink, _) = mkSink()
    val b0 = Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload")
    sink.ensureTables(b0.schema) // pre-create
    sink.writeBatch(b0, 0L)      // re-creates internally: must not throw
    // the key constraint is real: a raw duplicate insert violates it
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      val e = intercept[java.sql.SQLException] {
        st.execute(
          "INSERT INTO \"joblistings\" VALUES (1, 99, 'dup')")
      }
      assert(e.getSQLState == "23505", s"expected PK violation, got $e")
      st.close()
    } finally c.close()
  }

  test("stale staging rows from a crashed attempt never leak into a commit") {
    val (url, sink, read) = mkSink()
    val b0 = Seq((1L, 10L, "a")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    // simulate a crash after staging, before the MERGE transaction: rows
    // sit in staging tagged with a dead attempt id and no ledger entry
    // (r10 staging shape: data cols + __attempt + __batch)
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("INSERT INTO \"joblistings_staging\" VALUES " +
        "(9, 99, 'ghost', 'crashed-attempt-id', 1)")
      st.close()
    } finally c.close()
    assert(read() == Map(1L -> ((10L, "a"))), "uncommitted staging leaked")
    // batch 1 commits: its merge reads ONLY its own attempt, so the ghost
    // must NOT surface in the target
    val b1 = Seq((2L, 10L, "b")).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b1, 1L)
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((10L, "b"))))
    // and once batch 1 is ledgered, the NEXT commit's sweep clears the
    // ghost (orphans of committed batches die inside later transactions)
    sink.writeBatch(Seq((3L, 10L, "c")).toDF("job_id", "scraped_at", "payload"), 2L)
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement()
        .executeQuery("SELECT count(*) FROM \"joblistings_staging\"")
      rs.next()
      assert(rs.getInt(1) == 0, "staging must be fully swept after commits")
    } finally c2.close()
  }

  test("appendIgnoreDupes: set-based dup-tolerant fact append (Skills path)") {
    val url = "jdbc:derby:memory:g" +
      java.util.UUID.randomUUID.toString.replace("-", "") + ";create=true"
    val sink = new JdbcUpsertSink(url, "skills", Seq("job_id", "skill"), "job_id")
    val b0 = Seq((1L, "python"), (1L, "sql"), (2L, "python"))
      .toDF("job_id", "skill")
    sink.appendIgnoreDupes(b0)
    // replay the whole batch + one genuinely new fact: only the new row lands
    val b1 = Seq((1L, "python"), (1L, "sql"), (2L, "python"), (2L, "spark"))
      .toDF("job_id", "skill")
    sink.appendIgnoreDupes(b1)
    val rows = sink.table(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "python"), (1L, "sql"), (2L, "python"),
      (2L, "spark")))
    assert(sink.table(spark).count() == 4, "duplicate facts re-appended")
  }

  test("appendIgnoreDupes with a unique-column subset mirrors UC_JobSkill: " +
      "a row differing only outside the constraint is rejected") {
    val url = "jdbc:derby:memory:g" +
      java.util.UUID.randomUUID.toString.replace("-", "") + ";create=true"
    val sink = new JdbcUpsertSink(url, "skills2", Seq("job_id", "skill"), "job_id")
    val uc = Seq("job_id", "skill") // UNIQUE (JobID, SkillName) analog
    val b0 = Seq((1L, "python", "lang"), (2L, "spark", "framework"))
      .toDF("job_id", "skill", "category")
    sink.appendIgnoreDupes(b0, uc)
    // same (job_id, skill) with a DIFFERENT category: the reference's
    // UNIQUE constraint rejects it — so must we; plus one genuinely new fact
    val b1 = Seq((1L, "python", "tool"), (3L, "sql", "lang"))
      .toDF("job_id", "skill", "category")
    sink.appendIgnoreDupes(b1, uc)
    val rows = sink.table(spark).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "python", "lang"), (2L, "spark", "framework"),
      (3L, "sql", "lang")), s"got $rows")
  }

  test("payloads longer than 500 chars survive the staging insert " +
      "(width is a constructor knob, default Derby max)") {
    val url = "jdbc:derby:memory:g" +
      java.util.UUID.randomUUID.toString.replace("-", "") + ";create=true"
    val sink = new JdbcUpsertSink(url, "big", Seq("job_id"), "scraped_at")
    val long = "x" * 5000
    val b0 = Seq((1L, 10L, long)).toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b0, 0L)
    val got = sink.table(spark).collect().map(_.getString(2)).toSeq
    assert(got == Seq(long))
  }

  test("same key AND version in one batch: content-hash tiebreak elects " +
      "the same winner on a new-batch-id re-delivery") {
    val url = "jdbc:derby:memory:g" +
      java.util.UUID.randomUUID.toString.replace("-", "") + ";create=true"
    val sink = new JdbcUpsertSink(url, "ties", Seq("job_id"), "scraped_at")
    val b = Seq((1L, 10L, "a"), (1L, 10L, "b"))
      .toDF("job_id", "scraped_at", "payload")
    sink.writeBatch(b, 0L)
    val first = sink.table(spark).collect().map(_.getString(2)).toSeq
    // checkpoint-loss re-delivery: same rows, NEW batch id (ledger miss);
    // MERGE uses >=, so a different winner would overwrite — must not happen
    sink.writeBatch(
      b.orderBy(org.apache.spark.sql.functions.col("payload").desc), 1L)
    val second = sink.table(spark).collect().map(_.getString(2)).toSeq
    assert(first == second,
      s"re-delivery committed a different winner: $first vs $second")
  }

  test("streaming end-to-end: foreachBatch into Derby, exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (_, sink, read) = mkSink()
    val mem = MemoryStream[(Long, Long, String)]
    val q = mem.toDF().toDF("job_id", "scraped_at", "payload")
      .writeStream.outputMode("append")
      .foreachBatch(sink.writeBatch _)
      .start()
    try {
      mem.addData((1L, 10L, "a"), (2L, 10L, "b"))
      q.processAllAvailable()
      mem.addData((2L, 20L, "b2"))
      q.processAllAvailable()
    } finally q.stop()
    assert(read() == Map(1L -> ((10L, "a")), 2L -> ((20L, "b2"))))
  }

  test("per-batch values are bound: each commit statement compiles once for every batch") {
    val (url, sink, read) = mkSink()
    (0L to 2L).foreach { id =>
      sink.writeBatch(Seq((id, 10L, s"p$id")).toDF("job_id", "scraped_at", "payload"), id)
    }
    sink.appendIgnoreDupes(Seq((9L, 10L, "x")).toDF("job_id", "scraped_at", "payload"))
    assert(read().keySet == Set(0L, 1L, 2L, 9L))
    // Derby's statement cache is keyed by SQL text: a spliced attempt id or
    // batch id makes one entry (and one compile) per batch
    val c = DriverManager.getConnection(url)
    val cached = try {
      val rs = c.createStatement()
        .executeQuery("SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSeq
    } finally c.close()
    Seq("MERGE INTO", "DELETE FROM", "INSERT INTO \"joblistings_ledger\"").foreach { head =>
      val texts = cached.filter(_.trim.startsWith(head)).distinct
      assert(texts.size == (if (head == "DELETE FROM") 2 else 1), texts.mkString("\n"))
    }
  }
}
