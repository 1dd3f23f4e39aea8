package graft.tools

import graft.{Session, Tables}

/** Differential-fuzz executor (dev tool, not part of the query surface).
  *
  * Runs every SQL statement from a `{name: sql}` JSON file (written by
  * tools/fuzz.py) against the star-schema tables registered as temp views,
  * dumping each result to `outDir/<name>/` parquet and copying the JSON to
  * `outDir/oracle_sql.json` — the exact layout Verify produces, so
  * tools/check.py compares the Spark results against DuckDB unchanged.
  *
  * The fuzz SQL is generated in the dialect-common subset both engines parse
  * with identical semantics (see tools/fuzz.py for the grammar and the
  * cross-engine discipline it enforces); this runner stays dumb on purpose —
  * any Spark-side failure is itself a finding and is printed, not swallowed
  * into a skip.
  *
  * sbt "runMain graft.tools.FuzzRun <sfDir> <outDir> <sqlJson>"
  */
object FuzzRun {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, sqlJson) = args.take(3)
    val spark = Session.local(Session.cores(8))
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sfDir)
               else Tables.table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
    new java.io.File(outDir).mkdirs()
    // minimal JSON object reader: string keys -> string values, the only
    // shape fuzz.py writes (values are JSON-escaped single-line SQL)
    val raw = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sqlJson)),
      java.nio.charset.StandardCharsets.UTF_8)
    val entries = parseJsonObject(raw)
    var nOk = 0
    var nErr = 0
    entries.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      try {
        spark.sql(sql).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nOk += 1
      } catch { case e: Throwable =>
        nErr += 1
        System.err.println(s"[fuzz] $name SPARK-ERR: " +
          Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
            .take(3).mkString(" | "))
      }
    }
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sqlJson),
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"[fuzz] ran ${entries.size} queries: $nOk ok, $nErr spark-err")
    spark.stop()
    if (nErr > 0) sys.exit(2)
  }

  /** Parse a flat `{"k": "v", ...}` JSON object (no nesting, values are
    * strings) without a JSON library on the classpath. */
  private[tools] def parseJsonObject(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = s.indexOf('{') + 1
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def readString(): String = {
      require(s(i) == '"', s"expected string at $i"); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case c => sb.append(c)
          }
        } else sb.append(s(i))
        i += 1
      }
      i += 1
      sb.toString
    }
    skipWs()
    while (i < s.length && s(i) != '}') {
      val k = readString()
      skipWs(); require(s(i) == ':', s"expected : at $i"); i += 1; skipWs()
      val v = readString()
      out(k) = v
      skipWs()
      if (i < s.length && s(i) == ',') { i += 1; skipWs() }
    }
    out.toMap
  }
}
