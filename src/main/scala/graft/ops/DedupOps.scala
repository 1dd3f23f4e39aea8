package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document dedup family for training-data pipelines (SURVEY.md §2.11 N1):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. Designed so nothing is ever
  * O(n²) in the corpus: candidate generation is always a hash/bucket join,
  * and only candidates pay the verification cost.
  */
object DedupOps {

  /** Normalized text for exact dedup: the generator plants near-dups by
    * appending `dup` tokens — strip them and collapse whitespace, the analog
    * of the reference's pre-insert key normalization (database.py:116-123).
    */
  def normalizedText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "\\bdup\\b", " "), "\\s+", " "))

  /** Distinct token-array of a document (order-preserving split). */
  def tokens(c: Column): Column = split(c, "\\s+")

  /** Word k-shingles as strings joined with '_'. Built from k shifted
    * copies of the token array zipped together - O(n) per document. (The
    * obvious per-position slice+join is O(n*k) array copies and measured 5x
    * slower than the rest of the MinHash pipeline combined.) */
  def shingles(c: Column, k: Int): Column = {
    val toks = tokens(c)
    val joined = (1 until k).foldLeft(toks) { (acc, off) =>
      val shifted = slice(toks, lit(off + 1), greatest(size(toks) - off, lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNotNull && b.isNotNull, concat(a, lit("_"), b)))
    }
    filter(joined, s => s.isNotNull)
  }

  /** Base hashes of an array of shingles: raw xxhash64 — stable across
    * executors and runs (SURVEY.md §7.4.3). Full 64-bit values; the
    * per-function mixer in [[minhashSignature]] handles sign and range. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => xxhash64(s))

  /** MinHash signature: for each of `h` hash functions, min over shingle
    * hashes of `splitmix64(x + GOLDEN·(i+1))` — a STRONG independent-ish
    * family. Native codegen expression ([[graft.functions.MinhashSig]]) —
    * a two-level primitive loop over the hash array instead of h lambda
    * dispatches per element; the hottest inner loop of corpus-scale dedup.
    * Marginal signature cost at h=128 is ~10x below the HOF fold it
    * replaced (SURVEY.md, the r04 minhash_sig note).
    *
    * The r10 family was affine over ONE base hash ((a_i·x + b_i) mod p):
    * each h_i is individually fine, but the agreement events are
    * POSITIVELY CORRELATED across i (they share x's rank structure), so
    * the signature-agreement estimate has far more than binomial
    * J(1−J)/h variance. Invisible at small corpora; at the sf1 rehearsal
    * (50k docs, ~3M banded candidate pairs) 18% of est ≥ 0.5 emissions
    * had TRUE 3-gram Jaccard < 0.15 (one measured pair: est 0.5 at
    * J = 0.006). With the splitmix64 mixer the h agreement events are
    * effectively independent, the estimate is binomial as documented, and
    * the measured weak-emission count returns to 0 at every sf. */
  def minhashSignature(hashArr: Column, h: Int): Column =
    graft.functions.MinhashSig(hashArr, h)

  /** Plain-Scala reference of the [[minhashSignature]] mixer — the
    * executable spec the native expression is property-tested against
    * (ParseProps). Driver-side only: the wrapping 64-bit multiplies of
    * splitmix64 cannot be written as Column arithmetic under ANSI mode. */
  def minhashSignatureRef(hashes: Seq[Long], h: Int): Seq[Long] =
    (0 until h).map { i =>
      val seed = 0x9E3779B97F4A7C15L * (i + 1)
      hashes.foldLeft(Long.MaxValue) { (m, x) =>
        var z = x + seed
        z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
        z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
        z ^= (z >>> 33)
        math.min(m, z)
      }
    }

  /** LSH band keys: signature split into `bands` bands of `rows` each,
    * hashed; docs sharing any band key are candidates. xxhash64 hashes the
    * sliced long-array directly (Spark hashes array elements recursively) —
    * a per-band transform+array_join+cast-to-string tree codegens to several
    * times the bytecode for the same grouping behavior. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(sig, b * rows + 1, rows)).as("bkey"))
    }: _*)

  /** 64-bit SimHash over tokens: per-bit ±1 votes weighted by token hash.
    * Single fold with a 64-wide vote vector (64 independent aggregates would
    * re-tokenize and re-hash 64 times after projection collapse). */
  def simhash(tokenArr: Column): Column = {
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    val hashed = transform(tokenArr, t => xxhash64(t))
    val votes = aggregate(hashed, array_repeat(lit(0), 64),
      (acc, x) => zip_with(acc, masks,
        (v, m) => v + when(x.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    aggregate(zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Manku-style block-combination bucket keys for simhash candidate
    * generation at corpus scale (Manku/Jain/Sarma, WWW'07 §3): split the
    * 64-bit signature into 6 blocks (11,11,11,11,10,10 bits); a pair
    * within Hamming distance 3 flips bits in at most 3 blocks, so at
    * least 3 of its 6 blocks are IDENTICAL and the pair shares a key in
    * at least one of the C(6,3) = 20 combination tables — lossless for
    * h ≤ 3 exactly like the 4×16 chunk scheme, but each bucket key
    * carries ~32 significant bits instead of 16: random-collision
    * candidates scale n²/2^32, not n²/2^16 (the frozen 16-bit bucket
    * space measured structurally quadratic at zipf sf10 — SF1.md). The
    * price is 20 postings per doc instead of 4 — linear, and the join
    * keys stay longs (blocks packed at 22/11-bit shifts, < 2^33). */
  def simhashComboKeys(sig: Column): Column = {
    val widths = Seq(11, 11, 11, 11, 10, 10)
    val offsets = widths.scanLeft(0)(_ + _).init
    def block(i: Int): Column =
      shiftright(sig, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val combos = (0 until 6).combinations(3).toSeq
    array(combos.zipWithIndex.map { case (c, t) =>
      struct(lit(t).as("t"),
        (block(c(0)) * lit(1L << 22) + block(c(1)) * lit(1L << 11) +
          block(c(2))).as("k"))
    }: _*)
  }

  /** Production simhash near-dup pairs (Hamming ≤ 3 — the regime both
    * candidate schemes are lossless for): SIZE-DISPATCHING like
    * [[connectedComponents]]'s small-graph cap. The signature pass observes
    * the exact corpus size in the same job that checkpoints the sigs; at or
    * under `comboCutover` docs candidates come from the four 16-bit chunk
    * tables (4 postings/doc, collisions n²/2^16 — cheaper constants, fine
    * while n²/2^16 is small), above it from the Manku C(6,3) = 20
    * block-combination tables ([[simhashComboKeys]], collisions n²/2^32 —
    * 5× the postings, 2^16× the bucket space). Both emit the IDENTICAL
    * h ≤ 3 pair set (pigeonhole: ≤ 3 flipped bits leave ≥ 1 chunk of 4,
    * and ≥ 3 blocks of 6, intact), so the dispatch is invisible in the
    * output — spec-proven on both sides of the threshold. Crossover
    * measured on the zipf fixture at between 50k docs (chunk 1.7 s vs
    * combo 2.4 s) and 500k (chunk 25.0 s vs combo 11.4 s) — SF1.md §5;
    * the default cap 2^17 sits in that bracket. */
  def simhashNearDupPairs(docs: DataFrame,
      comboCutover: Long = 1L << 17): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val sigsWide = docs
      .select(col("doc_id"), simhash(tokens(col("text"))).as("sig"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    val n = obs.get("n").asInstanceOf[Long]
    // post-checkpoint passes at corpus-sized parallelism (see corpusTasks)
    val sigs = sigsWide.coalesce(corpusTasks(sigsWide, n))
    val keyed =
      if (n <= comboCutover)
        sigs.select(col("doc_id"), col("sig"),
          explode(array((0 until 4).map(i =>
            struct(lit(i).as("t"), shiftright(col("sig"), i * 16)
              .bitwiseAND(0xFFFF).as("k"))): _*)).as("ck"))
      else
        sigs.select(col("doc_id"), col("sig"),
          explode(simhashComboKeys(col("sig"))).as("ck"))
    val a = keyed.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("ck"))
    val b = keyed.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("ck"))
    a.join(b, Seq("ck"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact-duplicate groups on normalized text: group key + members.
    * One shuffle on the (hashed) normalized text. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", normalizedText(col("text")))
      .groupBy("norm")
      .agg(min(col("doc_id")).as("group_id"),
        count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("members"))
      .filter(col("n_members") > 1)

  /** Connected components over an undirected pair list (doc_a, doc_b) —
    * groups near-dup PAIRS into dedup CLUSTERS (the step that picks one
    * canonical doc per duplicate family). Alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * each round hooks every node to the minimum of its neighborhood, which
    * squares path lengths — convergence in O(log n) rounds on ANY graph
    * shape, unlike min-label propagation's O(diameter) (a 100 TB chain-
    * shaped dup family would need millions of propagation rounds). Each
    * half-round is one groupBy + one join on the node id; non-convergence
    * within `maxIter` RAISES rather than returning silently-wrong labels.
    * Deterministic (min is order-independent).
    *
    * Small-graph dispatch (r12, the verdict-#4 fix): the initial
    * canonicalization already observes the exact edge count, so when the
    * pair graph fits the `smallGraphCap` (default 2^20 edges ≈ 16 MB — the
    * bounded-collect discipline of the Borůvka dispatch probe) the labels
    * come from one driver-side union-find pass instead of O(log n)
    * alternating rounds, each of which costs 4 shuffle stages + a
    * checkpoint job of pure scheduling overhead on a family-sized graph
    * (measured: ~2.5 s of the 4.7 s dataset_split_atomic minimum). Labels
    * are IDENTICAL (min-of-component is unique); at 100 TB a beyond-cap
    * pair graph takes the distributed path unchanged. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
      smallGraphCap: Long = 1L << 20): DataFrame = {
    // observe() folds the convergence signature (edge count + an
    // order-independent decimal(38,0) hash sum, overflow-free under ANSI)
    // into the SAME job that materializes the round's checkpoint — one job
    // per round instead of checkpoint + separate agg-collect
    def checkpointWithSig(e: DataFrame): (DataFrame, (Long, String)) = {
      val obs = org.apache.spark.sql.Observation()
      val chk = e.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0)).as("h"))
        .localCheckpoint()
      val m = obs.get
      (chk, (m("n").asInstanceOf[Long], String.valueOf(m("h"))))
    }
    // canonical orientation (u > v), self-loops dropped
    var (edges, edgeSig) = checkpointWithSig(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // driver dispatch only for integral id types: smallGraphCC round-trips
    // ids through long, which would NPE on nulls / lossily merge distinct
    // ids for string/decimal/double id columns — those keep the type-generic
    // distributed loop below (r12 ADVICE)
    val integralIds = edges.schema("u").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integralIds && edgeSig._1 <= smallGraphCap) return smallGraphCC(edges)
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      // large-star: for each node, attach every LARGER neighbor to the
      // minimum of its closed neighborhood (keeps orientation u > v).
      val nbr = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = nbr.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // no intermediate distinct: duplicate edges can't change a min, and
      // the round's final distinct dedups the emission — one less shuffle
      val large = nbr.filter(col("v") > col("u"))
        .join(minsL, "u")
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: for each node, attach all smaller neighbors (and itself)
      // to the minimum among them. The edge whose v IS the min re-points the
      // center node u; all others re-point their v.
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      // localCheckpoint, NOT persist: caching substitutes at physical
      // planning but leaves the logical tree intact, so an iterative loop's
      // plan doubles every round and Catalyst analysis time explodes
      // (measured 75s vs 3s on this very loop). Checkpointing truncates the
      // lineage each round — the standard iterative-graph idiom.
      val (next, nextSig) = checkpointWithSig(large.join(minsS, "u")
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
          col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct())
      converged = nextSig == edgeSig
      edges = next
      edgeSig = nextSig
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter large/small-star rounds")
    // converged state is a star forest: every non-center points straight at
    // its component minimum; centers label themselves.
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** Driver-side union-find for pair graphs under the small-graph cap:
    * union-by-min (the larger root always attaches under the smaller), so
    * each tree's final root IS its component minimum — the identical label
    * the alternating-star loop converges to. Id columns keep their input
    * type (cast through long and back). */
  private def smallGraphCC(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("u").dataType
    val rows = edges
      .select(col("u").cast("long"), col("v").cast("long")).collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val u = row.getLong(0); val v = row.getLong(1)
      parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    parent.keySet.asScala.toSeq.sorted.map(n => (n, find(n)))
      .toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** Partition count for the post-checkpoint passes over a corpus-keyed
    * set (r15, guide §2 "scale-adaptive partitioning, derived from input
    * size"): the checkpointed token/signature sets inherit the fanOut
    * width (defaultParallelism), so EVERY downstream map pass — df-count,
    * ranking window input, sizes, both verify-join sides — ran cores-wide
    * regardless of corpus size. At sf0.1 the containment family is 250
    * docs / 13k token rows, and 32 concurrent ~nothing tasks per stage
    * measured SLOWER than 8 (PERF_r14 scaling ratio 0.30; ProbeStages:
    * stage run-time 113 ms at 8 tasks → 13,612 ms at 32 — scheduler/lock
    * overhead, not compute). The corpus size is already OBSERVED in the
    * checkpoint job, so the fix is free: coalesce (narrow, no shuffle;
    * the checkpoint blocks are already materialized cores-wide) to
    * ~1k docs per task, capped at defaultParallelism — at 2^17+ docs
    * (the suffix-dispatch regime) this is exactly the old cores-wide
    * behavior, so the SF1.md ledger economics are unchanged. */
  private def corpusTasks(df: DataFrame, nDocs: Long): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism.toLong
    math.min(cores, nDocs / 1024L + 1L).toInt
  }

  /** Distinct (doc_id, tok) rows — the inverted-index building block.
    * array_distinct before explode: set semantics with no post-explode
    * distinct shuffle. Contract: input text is whitespace-normalized (no
    * leading whitespace) — `split("\\s+")` on " x" yields a leading ""
    * token that would count in sizes/intersections; the DuckDB oracles'
    * `string_split` shares the identical quirk, so the two engines can
    * never diverge on it, but pre-normalize (the corpus tables are) rather
    * than rely on that. */
  def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), "\\s+"))).as("tok"))

  /** Exact token-set Jaccard for a given candidate pair list: two joins
    * against the inverted index count |A∩B| (cost ∝ candidates × doc size,
    * never all-pairs), then sizes give the union. The threshold compares
    * CROSS-MULTIPLIED in exact integers (inter·10⁶ ≥ ⌊t·10⁶⌋·union — every
    * threshold in the registry is 6-dp-expressible), so the prefix/df
    * candidate cuts' losslessness proofs hold against the VERIFY predicate
    * verbatim and no float rounding can flip a boundary pair; the DuckDB
    * oracles compare the same cross-multiplied integers (r10 — the
    * previous round-then-compare form could accept a pair the exact cuts
    * had already dropped, on ~10⁶-token docs). `jaccard` stays 6-dp
    * rounded as the emitted display column. */
  def jaccardVerify(toks: DataFrame, cand: DataFrame, minJaccard: Double): DataFrame = {
    // floor, not round: the documented scaled form is ⌊t·10⁶⌋ (r10 ADVICE —
    // half-up was strictly stricter than the doc for non-6-dp thresholds,
    // diverging from an oracle that floors)
    val tScaled = math.floor(minJaccard * 1e6).toLong
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(toks.select(col("doc_id").as("doc_a"), col("tok")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .filter(col("inter") * lit(1000000L) >=
        lit(tScaled) * (col("sz_a") + col("sz_b") - col("inter")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram (token-set) Jaccard pairs via an inverted-index join with
    * a document-frequency cut: tokens appearing in more than `maxDf` docs
    * are excluded from CANDIDATE GENERATION (one stopword-grade token makes
    * its posting list quadratic — the hot-token hazard), but still count in
    * the verification, which runs over FULL token sets restricted to
    * candidate pairs. A qualifying pair is lost only if every one of its
    * shared tokens is hotter than `maxDf` — i.e. the pair is built entirely
    * of stopwords; MinHash (the corpus-scale path) routes around the same
    * degenerate case. */
  def jaccardPairs(docs: DataFrame, maxDf: Long, minJaccard: Double): DataFrame = {
    // localCheckpoint: the index feeds df-count, both candidate sides, sizes
    // and both verify joins — without it each consumer re-tokenizes.
    val toks = tokenSets(docs).localCheckpoint(false)
    jaccardVerify(toks, jaccardCandidates(toks, maxDf), minJaccard)
  }

  /** Candidate stage of [[jaccardPairs]] (factored out so the corpus probe
    * can count candidates independently of verification). `toks` must
    * already be checkpointed by the caller. */
  private[graft] def jaccardCandidates(toks: DataFrame, maxDf: Long): DataFrame = {
    // maxDf == Long.MaxValue means "guard disabled": no token can exceed it,
    // so skip the df-count shuffle and join entirely
    val rare =
      if (maxDf == Long.MaxValue) toks
      else {
        val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
        toks.join(dfreq.filter(col("df") <= maxDf), Seq("tok"))
      }
    rare.as("x")
      .join(rare.as("y"), col("x.tok") === col("y.tok") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Directed token-set CONTAINMENT pairs — C(src→dst) = |src∩dst| / |src|,
    * the asymmetric near-dup measure that catches a short doc quoted or
    * embedded inside a longer one (Jaccard misses those: the size gap
    * drowns the overlap). Pairs are DIRECTED (both orientations scored;
    * src is the side whose size normalizes), so the pair join uses ≠,
    * not <. Verification cost is candidates × doc size, never all-pairs.
    *
    * Candidate generation uses the PPJoin prefix cut on the SRC side
    * (r09): C ≥ t means src may miss at most |src| − ⌈t·|src|⌉ of its
    * tokens from dst, so if src's first p = |src| − ⌈t·|src|⌉ + 1 tokens
    * (canonical df-asc/tok-asc order) are ALL absent from dst the pair
    * cannot qualify — LOSSLESS, like [[prefixJaccardPairs]]. Only src
    * prefixes join the full posting lists (prefix_df × df per token, a
    * ~10× cut at t = 0.9 over the full df × df self-join the r08 form
    * paid). ⌈t·|src|⌉ is integer arithmetic ((9·sz + 9) DIV 10). */
  def containmentPairs(docs: DataFrame, minContainment: Double,
      suffixFilter: Option[Boolean] = None): DataFrame = {
    require(minContainment == 0.9, "prefix size is specialized to t = 9/10")
    // observe the corpus size IN the job that checkpoints the token set
    // (the [[simhashNearDupPairs]] Observation pattern) — r14: the first
    // cut of this dispatch ran a separate distinct().count() job per call,
    // which re-shuffled the token set just to make a boolean decision
    // (bench: dedup_prefix_jaccard +0.6 s, dedup_incremental_prefix +1.0 s
    // per rep at sf0.1). The doc-row count differs from distinct-doc_id
    // only for empty-token docs; the dispatch is a SPEED decision between
    // two forms proven output-identical (OpProps), so the cheaper count is
    // safe at any boundary. PRECONDITION (r14 ADVICE): the dispatch's cost
    // model was tuned on one-row-per-doc corpora — duplicate doc_id rows
    // would inflate the observed count and flip the dispatch early; output
    // is unaffected either way, but keep inputs one-row-per-doc (all
    // current callers are) if the tuned threshold is to mean what the
    // SF1.md ledger measured.
    val obs = org.apache.spark.sql.Observation()
    val toksWide = tokenSets(docs.observe(obs, count(lit(1)).as("n_docs")))
      .localCheckpoint()
    val nDocs = obs.get("n_docs").asInstanceOf[Long]
    val suffix = suffixFilter.getOrElse(containmentSuffixByDefault(nDocs))
    // post-checkpoint passes at corpus-sized parallelism (see corpusTasks)
    val toks = toksWide.coalesce(corpusTasks(toksWide, nDocs))
    containmentCandidates(toks, suffix)
      .join(toks.select(col("doc_id").as("src_doc"), col("tok")), "src_doc")
      .join(toks.select(col("doc_id").as("dst_doc"), col("tok")), Seq("dst_doc", "tok"))
      .groupBy("src_doc", "dst_doc", "sz_src")
      .agg(count(lit(1)).as("inter"))
      // exact cross-multiplied threshold (inter ≥ ⌈t·sz⌉ ⟺ 10·inter ≥
      // 9·sz for t = 0.9) — the same integer predicate the prefix and
      // pigeonhole cuts above are lossless against, and the oracle runs
      .filter(col("inter") * 10 >= col("sz_src") * 9)
      .withColumn("containment",
        round(col("inter").cast("double") / col("sz_src"), 6))
      .select("src_doc", "dst_doc", "containment")
  }

  /** Candidate stage of [[containmentPairs]] (t = 0.9): src-side prefix cut,
    * the pigeonhole size cut (now INSIDE the token-match join — a size-
    * mismatched pair never becomes a candidate row at all), the (r13)
    * POSITIONAL cut at the pair's first shared token, and (r14) the PPJoin+
    * SUFFIX cut. Emits (src_doc, dst_doc, sz_src) — sz_src rides along so
    * the verify agg doesn't need another sizes join. Factored out so the
    * corpus probe can count candidates; `suffixFilter = false` exposes the
    * r13 form so the probe can measure the suffix cut's candidate delta.
    *
    * Positional losslessness (directed form): rank EVERY doc's tokens in
    * the canonical (df, tok) order; for the first token w shared between
    * src's prefix and dst's FULL set, at positions (i, j), any other
    * common token z < w would sit before w in src (position < i ≤ p_src,
    * inside the prefix) and before w in dst — an earlier match,
    * contradiction. So all other common tokens are > w, giving
    * inter ≤ 1 + min(sz_src − i, sz_dst − j); C ≥ 0.9 needs inter ≥
    * ⌈9·sz_src/10⌉ ⟺ `10·(1 + min(...)) ≥ 9·sz_src`.
    *
    * Suffix losslessness (r14 — the literature's standard third cut, Xiao
    * et al. WWW'08 §4): the positional lemma above is in fact an EQUALITY
    * decomposition — every common token besides w is > w in the canonical
    * order, hence inside BOTH suffixes, so inter = 1 + |suffA ∩ suffB|.
    * [[graft.functions.SuffixHammingLb]] lower-bounds |suffA Δ suffB| with
    * ≤ 7 binary searches over the docs' canonical-key arrays (proof at the
    * expression), and |suffA ∩ suffB| = (|suffA| + |suffB| − |Δ|) / 2, so
    * a pair dies when 1 + ⌊(sx + sy − lb) / 2⌋ < ⌈9·sz_src/10⌉ — integer
    * arithmetic end-to-end, lossless against the verify predicate. This is
    * the only dedup path whose candidates grew super-linearly per decade
    * (n^1.7 — SF1.md §6); the suffix bound is sensitive to WHERE the
    * suffixes differ, not just their sizes, which is what the positional
    * cut alone cannot see. */
  private[graft] def containmentCandidates(toks: DataFrame,
      suffixFilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")))
      .join(sizes, "doc_id")
      .select("doc_id", "tok", "df", "r", "sz")
    val prefix = ranked
      .filter(col("r") <= col("sz") - expr("(sz * 9 + 9) DIV 10") + 1)
    val positional = prefix.as("x")
      .join(ranked.as("y"), col("x.tok") === col("y.tok") &&
        col("x.doc_id") =!= col("y.doc_id") &&
        // pigeonhole: inter ≤ |dst|, so C ≥ t needs 10·|dst| ≥ 9·|src|
        col("y.sz") * 10 >= col("x.sz") * 9)
      .groupBy(col("x.doc_id").as("src_doc"), col("y.doc_id").as("dst_doc"))
      .agg(min_by(
        struct(col("x.r").as("ra"), col("y.r").as("rb"),
          col("x.sz").as("sa"), col("y.sz").as("sb")),
        struct(col("x.df"), col("x.tok"))).as("m"))
      .filter((lit(1) +
        least(col("m.sa") - col("m.ra"), col("m.sb") - col("m.rb"))) * 10 >=
        col("m.sa") * 9)
    if (!suffixFilter)
      positional.select(col("src_doc"), col("dst_doc"), col("m.sa").as("sz_src"))
    else
      suffixFiltered(positional, canonicalKeyArrays(toks, dfreq),
        "src_doc", "dst_doc",
        // keep iff 1 + floor((sx + sy - lb)/2) >= ceil(9*sz_src/10)
        "((m.sa - m.ra) + (m.sb - m.rb) - _lb) DIV 2 + 1 >= (m.sa * 9 + 9) DIV 10")
        .select(col("src_doc"), col("dst_doc"), col("m.sa").as("sz_src"))
  }

  /** Per-doc canonical-key arrays for the suffix filter: k's BINARY string
    * order is exactly the (df asc, tok asc) order row_number ranked by
    * (zero-padded df compares numerically; the \\u0001 separator sits below
    * every token byte, so a key is never order-flipped by a token that
    * prefixes another), hence ks[r-1] is the rank-r token and the suffix
    * beyond the first shared token is an index window — no per-pair
    * slicing. */
  private def canonicalKeyArrays(toks: DataFrame, dfreq: DataFrame): DataFrame =
    toks.join(dfreq, "tok")
      .withColumn("k", concat(lpad(col("df").cast("string"), 12, "0"),
        lit("\u0001"), col("tok")))
      .groupBy("doc_id").agg(sort_array(collect_list(col("k"))).as("ks"))

  /** Join the positional-filter survivors (one row per pair, `m` carrying
    * (ra, rb, sa, sb)) to both docs' canonical-key arrays and apply the
    * suffix bound `_lb` ([[graft.functions.SuffixHammingLb]]); `keepSql` is
    * the integer keep-predicate specialized to the caller's threshold. */
  private def suffixFiltered(positional: DataFrame, arrs: DataFrame,
      aCol: String, bCol: String, keepSql: String): DataFrame =
    positional
      .join(arrs.select(col("doc_id").as(aCol), col("ks").as("ks_a")), aCol)
      .join(arrs.select(col("doc_id").as(bCol), col("ks").as("ks_b")), bCol)
      .withColumn("_lb", graft.functions.SuffixHammingLb(
        col("ks_a"), col("ks_b"), col("m.ra"), col("m.rb")))
      .filter(expr(keepSql))

  /** PPJoin-style PREFIX FILTERING — the similarity join's corpus-scale
    * candidate cut. Order every doc's tokens by global rarity (df asc, tok
    * asc — a canonical total order both engines share) and index only the
    * first p = |d| − ⌈t·|d|⌉ + 1 of them: if two docs' prefixes are
    * disjoint, their overlap is at most (|d|−p) + (|d'|−p') matched
    * suffix tokens, which is provably below the t threshold — so every
    * qualifying pair shares a prefix token and the cut is LOSSLESS, unlike
    * the df-cut heuristic. Posting lists shrink to the rare fifth of each
    * doc (t=0.8), cutting the quadratic join work ~(1−t)² while
    * verification still runs over full token sets. ⌈t·|d|⌉ is computed in
    * integer arithmetic ((4·|d|+4) DIV 5) — float ceil misbuckets exactly
    * at multiples of 5. */
  def prefixJaccardPairs(docs: DataFrame, minJaccard: Double = 0.8,
      suffixFilter: Option[Boolean] = None): DataFrame = {
    require(minJaccard == 0.8, "prefix size is specialized to t = 4/5")
    // corpus size observed in the checkpoint job — see [[containmentPairs]]
    val obs = org.apache.spark.sql.Observation()
    val toksWide = tokenSets(docs.observe(obs, count(lit(1)).as("n_docs")))
      .localCheckpoint()
    val nDocs = obs.get("n_docs").asInstanceOf[Long]
    val suffix = suffixFilter.getOrElse(prefixSuffixByDefault(nDocs))
    // post-checkpoint passes at corpus-sized parallelism (see corpusTasks)
    val toks = toksWide.coalesce(corpusTasks(toksWide, nDocs))
    jaccardVerify(toks, prefixCandidates(toks, suffix), minJaccard)
  }

  /** Suffix-filter dispatch for the DIRECTED containment join — the
    * observed-corpus-size pattern of [[simhashNearDupPairs]], with the
    * threshold from the r14 same-JVM before/after probe (SF1.md §7): at
    * 24k family docs the suffix cut LOSES (6.3 → 8.5 s full pipeline,
    * zipf sf10 — the canonical-key-array build dwarfs the verify it
    * saves on 158k candidates); at 243k it WINS 1.8× (60.2 → 33.0 s,
    * zipf sf100 — the 7.49M-candidate verify join dominates everything).
    * 2^17 sits mid-bracket — the same cutover constant the simhash
    * chunk/Manku dispatch measured, which is not a coincidence: both
    * trade a corpus-linear preprocessing cost against super-linear
    * pair work. */
  val ContainmentSuffixCutoverDocs: Long = 1L << 17

  private[graft] def containmentSuffixByDefault(nDocs: Long): Boolean =
    nDocs >= ContainmentSuffixCutoverDocs

  /** Suffix-filter dispatch for the SYMMETRIC Jaccard prefix join. Unlike
    * containment, the suffix cut never won a measured decade here — full
    * pipeline with/without ratios 1.29× / 1.27× / 1.12× at zipf
    * sf1/sf10/sf100 (SF1.md §7) — because prefix+length+positional is
    * already within ~20× of the emitted pair count, so the verify join it
    * would save is small next to the key-array build. The ratio falls
    * monotonically while no-suffix candidates grow 40×/decade against
    * emitted's ~10×, so the verify join must eventually dominate; the
    * trend puts the crossover near 2^21 family docs (~a fifth decade,
    * beyond what the sandbox can generate and probe). EXTRAPOLATED,
    * unlike containment's measured bracket — tighten when a bigger
    * corpus is measurable. */
  val PrefixSuffixCutoverDocs: Long = 1L << 21

  private[graft] def prefixSuffixByDefault(nDocs: Long): Boolean =
    nDocs >= PrefixSuffixCutoverDocs

  /** Candidate stage of [[prefixJaccardPairs]] (t = 0.8). Factored out so
    * the corpus probe can count candidates.
    *
    * r13: the full PPJoin cut — prefix + LENGTH + POSITIONAL filters (Xiao
    * et al., WWW'08), all three lossless against the exact cross-multiplied
    * verify predicate:
    *
    *  - LENGTH (in the token-match join): J(x,y) ≥ t ⟹ overlap ≤ min sizes,
    *    union ≥ max sizes ⟹ t·max(|x|,|y|) ≤ min(|x|,|y|) — for t = 4/5,
    *    `5·sz_small ≥ 4·sz_big` both ways, pure integer arithmetic. Cuts
    *    size-mismatched pairs BEFORE they become candidate rows.
    *  - POSITIONAL (on the pair's FIRST shared prefix token, min by the
    *    canonical (df, tok) order): with w at positions (i, j) of x, y, any
    *    other common token z is either > w — hence after w in BOTH docs'
    *    canonical order, at most min(|x|−i, |y|−j) of those — or < w, which
    *    would sit before w inside BOTH prefixes (positions < i ≤ p_x,
    *    < j ≤ p_y), contradicting w being the first shared prefix token. So
    *    overlap(x,y) ≤ 1 + min(|x|−i, |y|−j); J ≥ t needs overlap ≥
    *    ⌈t/(1+t)·(|x|+|y|)⌉, i.e. `9·(1 + min(sx−i, sy−j)) ≥ 4·(sx+sy)`
    *    at t = 4/5 (k ≥ ⌈n/9⌉ ⟺ 9k ≥ n for integers). The min_by groupBy
    *    replaces the old `.distinct()` — same one shuffle, and a pair whose
    *    shared prefix tokens all sit too deep for its sizes dies here
    *    instead of paying the candidates × doc-size verify joins.
    *
    * Measured on the Heaps-vocabulary zipf fixture: prefix-only candidates
    * grew ~Σ df_prefix² once df saturated (833k candidates for 2,376
    * emitted pairs at zipf sf10 — SF1.md §5); the length+positional cuts
    * are the standard PPJoin answer to exactly that tail.
    *
    * r14: the SUFFIX cut completes PPJoin+ here too — the positional lemma
    * is an equality decomposition (every common token besides the first
    * shared w is > w, hence in both suffixes), so overlap = 1 + |SA ∩ SB| ≤
    * 1 + ⌊(sx + sy − lb)/2⌋ with lb from [[graft.functions.SuffixHammingLb]];
    * J ≥ 4/5 requires overlap ≥ ⌈4·(sa+sb)/9⌉ — integer keep-predicate,
    * lossless (OpProps prefix ≡ full-inverted-index property). The fourth
    * zipf decade motivated it: prefix+length+positional candidates grew
    * ~40×/decade (535k at sf100 for 23.5k emitted) while emitted density
    * grows ~10×/decade — the suffix bound closes that gap the same way it
    * closed containment's n^1.7. */
  private[graft] def prefixCandidates(toks: DataFrame,
      suffixFilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val prefix = toks.join(dfreq, "tok")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")))
      .join(sizes, "doc_id")
      .filter(col("r") <= col("sz") - expr("(sz * 4 + 4) DIV 5") + 1)
      .select("doc_id", "tok", "df", "r", "sz")
    val positional = prefix.as("x")
      .join(prefix.as("y"), col("x.tok") === col("y.tok") &&
        col("x.doc_id") < col("y.doc_id") &&
        col("x.sz") * 5 >= col("y.sz") * 4 &&
        col("y.sz") * 5 >= col("x.sz") * 4)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(min_by(
        struct(col("x.r").as("ra"), col("y.r").as("rb"),
          col("x.sz").as("sa"), col("y.sz").as("sb")),
        struct(col("x.df"), col("x.tok"))).as("m"))
      .filter((lit(1) +
        least(col("m.sa") - col("m.ra"), col("m.sb") - col("m.rb"))) * 9 >=
        (col("m.sa") + col("m.sb")) * 4)
    if (!suffixFilter) positional.select("doc_a", "doc_b")
    else
      suffixFiltered(positional, canonicalKeyArrays(toks, dfreq),
        "doc_a", "doc_b",
        // keep iff 1 + floor((sx + sy - lb)/2) >= ceil(4*(sa+sb)/9)
        "((m.sa - m.ra) + (m.sb - m.rb) - _lb) DIV 2 + 1 >= (4 * (m.sa + m.sb) + 8) DIV 9")
        .select("doc_a", "doc_b")
  }

  /** Incremental (daily-batch) near-dup check: candidates are shared-token
    * pairs BETWEEN the new batch and the existing corpus only — never
    * batch×batch or corpus×corpus — so each day's run costs
    * |batch postings| × |matching corpus postings|, not a corpus self-join.
    * The batch side of the index is small; the corpus side is the standing
    * inverted index a real pipeline keeps materialized between runs.
    *
    * This is the UNGUARDED form (every shared token makes a candidate) —
    * kept as the measured naive contrast: on the Zipf/Heaps fixture it ran
    * 12x for 10x data at sf1 because every batch×corpus pair shares a
    * top-Zipf stopword. [[crossPrefixJaccardPairs]] is the scale path.
    * Emits (doc_a = batch doc, doc_b = existing doc, jaccard). */
  def crossJaccardPairs(existing: DataFrame, batch: DataFrame,
      minJaccard: Double): DataFrame = {
    val eToks = tokenSets(existing).localCheckpoint(false)
    val bToks = tokenSets(batch).localCheckpoint(false)
    val cand = bToks.as("x")
      .join(eToks.as("y"), col("x.tok") === col("y.tok"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(eToks.unionByName(bToks), cand, minJaccard)
  }

  /** [[crossJaccardPairs]] with the LOSSLESS PPJoin prefix cut applied to
    * BOTH sides under one global token order (df asc, tok asc over the
    * union — the theorem needs only that the order be total and shared):
    * if J(A,B) ≥ t then A's and B's prefixes intersect, so restricting the
    * cross join to prefix postings drops no qualifying pair; same output
    * as the unguarded form. Measured on the Zipf/Heaps fixture (r12):
    * 12x → 1.8x for 10x data at sf1 — candidates scale with near-dup
    * density, not batch×corpus. On the DEGENERATE 30-word synthetic corpus
    * the cut concentrates posting lists on the ~5 globally-rarest tokens
    * (fewer parallel join keys, ~2x slower there) — which is exactly the
    * all-stopword case MinHash routes around; real vocabularies are the
    * design point. */
  def crossPrefixJaccardPairs(existing: DataFrame, batch: DataFrame,
      minJaccard: Double, suffixFilter: Option[Boolean] = None): DataFrame = {
    require(minJaccard == 0.8, "prefix size is specialized to t = 4/5")
    import org.apache.spark.sql.expressions.Window
    // per-side corpus sizes observed in the two checkpoint jobs (the
    // [[containmentPairs]] Observation pattern); the union size is their
    // sum because doc ids are disjoint across sides by the op's contract —
    // the same assumption the verify's union-side sizes already make
    val (obsE, obsB) =
      (org.apache.spark.sql.Observation(), org.apache.spark.sql.Observation())
    val eToksWide = tokenSets(existing.observe(obsE, count(lit(1)).as("n_docs")))
      .localCheckpoint()
    val bToksWide = tokenSets(batch.observe(obsB, count(lit(1)).as("n_docs")))
      .localCheckpoint()
    val (nE, nB) = (obsE.get("n_docs").asInstanceOf[Long],
      obsB.get("n_docs").asInstanceOf[Long])
    val suffix = suffixFilter.getOrElse(prefixSuffixByDefault(nE + nB))
    // post-checkpoint passes at corpus-sized parallelism (see corpusTasks)
    val eToks = eToksWide.coalesce(corpusTasks(eToksWide, nE))
    val bToks = bToksWide.coalesce(corpusTasks(bToksWide, nB))
    // one shared order + per-doc sizes over the union (doc ids are disjoint
    // across the two sides by the op's contract — same assumption the
    // verify's union-side sizes already make)
    val all = eToks.unionByName(bToks)
    val dfreq = all.groupBy("tok").agg(count(lit(1)).as("df"))
    val sizes = all.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    def prefixOf(side: DataFrame): DataFrame = side.join(dfreq, "tok")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")))
      .join(sizes, "doc_id")
      .filter(col("r") <= col("sz") - expr("(sz * 4 + 4) DIV 5") + 1)
      .select("doc_id", "tok", "df", "r", "sz")
    // r13: the same lossless LENGTH + POSITIONAL cuts as
    // [[prefixCandidates]] (proofs there) — both sides share the union-df
    // canonical order, which is all the first-shared-prefix-token lemma
    // needs, so they apply verbatim to the cross join.
    val positional = prefixOf(bToks).as("x")
      .join(prefixOf(eToks).as("y"), col("x.tok") === col("y.tok") &&
        col("x.sz") * 5 >= col("y.sz") * 4 &&
        col("y.sz") * 5 >= col("x.sz") * 4)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(min_by(
        struct(col("x.r").as("ra"), col("y.r").as("rb"),
          col("x.sz").as("sa"), col("y.sz").as("sb")),
        struct(col("x.df"), col("x.tok"))).as("m"))
      .filter((lit(1) +
        least(col("m.sa") - col("m.ra"), col("m.sb") - col("m.rb"))) * 9 >=
        (col("m.sa") + col("m.sb")) * 4)
    // r14: the suffix cut too (same shared union order, same lemma — the
    // proof in [[prefixCandidates]]' scaladoc applies verbatim)
    val cand =
      if (!suffix) positional.select("doc_a", "doc_b")
      else suffixFiltered(positional, canonicalKeyArrays(all, dfreq),
        "doc_a", "doc_b",
        "((m.sa - m.ra) + (m.sb - m.rb) - _lb) DIV 2 + 1 >= (4 * (m.sa + m.sb) + 8) DIV 9")
        .select("doc_a", "doc_b")
    jaccardVerify(all, cand, minJaccard)
  }

  /** Band-keyed signature stage of [[minhashPairs]] — one row per
    * (doc, band key); docs sharing a `bk` are candidates. Factored out so
    * the corpus probe can measure band-bucket economics (bucket-size
    * distribution, pre-dedup collision pairs) independently of the pair
    * join (r13 verdict #5). */
  private[graft] def minhashBandKeyed(docs: DataFrame, h: Int, bands: Int,
      shingleK: Int): DataFrame = {
    // bands must tile the signature exactly: rows = 0 would make every
    // band key the hash of an EMPTY slice (all docs collide in all bands —
    // an O(n²) all-pairs explosion), and a non-dividing bands silently
    // drops the trailing signature elements, weakening recall unseen
    require(bands >= 1 && h % bands == 0,
      s"minhashPairs: bands=$bands must divide h=$h signature positions")
    val rows = h / bands
    // localCheckpoint: the band self-join is a diamond DAG — without it both
    // join sides re-execute the whole shingle+hash+signature subtree.
    val sigs = docs
      .select(col("doc_id"), shingles(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSignature(shingleHashes(col("sh")), h).as("sig"))
      .localCheckpoint(false)
    sigs.select(col("doc_id"), col("sig"),
      explode(bandKeys(col("sig"), bands, rows)).as("bk"))
  }

  /** MinHash near-dup candidate pairs with Jaccard estimate from signature
    * agreement. explode(bandKeys) → shuffle on band key → per-bucket pairs.
    * `shingleK` picks the granularity the signature estimates: 3 (default)
    * approximates 3-shingle Jaccard (order-sensitive, the classic near-dup
    * detector); 1 approximates token-SET Jaccard (order-insensitive — use
    * when downstream verification is token-set based, or banding will miss
    * reordered near-dups that shingles don't share). */
  def minhashPairs(docs: DataFrame, h: Int, bands: Int, shingleK: Int = 3): DataFrame = {
    val keyed = minhashBandKeyed(docs, h, bands, shingleK)
    val a = keyed.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("bk"))
    val b = keyed.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("bk"))
    a.join(b, Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / h)
      .select("doc_a", "doc_b", "est_jaccard")
  }
}
