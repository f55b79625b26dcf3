package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Let
import graft.sources.Tables

/** Near-duplicate detection for a training-data pipeline: exact groups,
  * shingle-set Jaccard, and MinHash+LSH banding (builder brief; the
  * reference's fuzzy entity-resolution J8 is the same problem shape —
  * SURVEY.md §4.1 notes MinHashLSH as its scale path).
  *
  * Scale design: the only all-pairs step is the candidate join, and both
  * variants bound it — Jaccard joins on shared shingles within a blocking
  * key; LSH joins on band buckets whose collision probability collapses for
  * dissimilar docs. Neither materializes the O(n²) pair space.
  */
object Dedup {

  /** Word 3-gram shingles, distinct, as a Column over a token array.
    * Guarded for docs shorter than n tokens. */
  def shingles(toks: Column, n: Int = 3): Column =
    // Let-bound defensively: today's callers pass a materialized token
    // attribute (cheap to re-read), but a caller passing `split(...)`
    // directly would re-split per gram position (see graft.functions.Let).
    Let.bind(toks)(ts =>
      when(size(ts) < n, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => concat_ws(" ", slice(ts, i, lit(n)))))))

  /** Exact-duplicate groups by content fingerprint: groups with >1 member. */
  def exactDupGroups(docs: DataFrame, key: Column): DataFrame =
    docs.groupBy(key.as("fingerprint"))
      .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("first_doc"))
      .filter(col("dup_cnt") > 1)

  /** q_exact_dups: [[exactDupGroups]] over the documents corpus with a
    * planted duplicate set (every doc_id % 7 = 0 re-keyed +10M, same
    * text — the synthetic corpus has no natural exact dups, so the
    * planted rows make the groups non-trivial). The md5 fingerprint
    * normalization (whitespace collapse + lowercase) replays verbatim
    * in DuckDB, so the oracle hash-checks fingerprint, group size, and
    * keep-one witness end-to-end. One map-side-combining shuffle on the
    * fingerprint — the canonical exact-dedup shape at any scale. */
  def exactDupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    exactDupGroups(
      docs.unionByName(planted)
        .withColumn("__fp", TextAnalysis.fingerprint(col("text"))),
      col("__fp"))
      .orderBy("fingerprint")
  }

  /** doc_id → exploded distinct shingle rows (blocking column carried).
    *
    * Performance shape matters here: tokenize ONCE into a materialized
    * array column before shingling (higher-order exprs are interpreted —
    * leaving `split` inside the lambda re-splits the string per element),
    * repartition by doc so a small snapshot file (1 input split) still
    * shingles on every core, and materialize the exploded rows via
    * [[Silver.materialize]] — downstream self-joins would otherwise re-run
    * the whole tokenize+shingle pipeline once per plan branch (~10× at
    * the signature join). With `spark.graft.silver.dir` set this is a
    * real persisted silver table (the 100 TB path). */
  private def shingleRows(docs: DataFrame, block: String): DataFrame =
    // scratch (per-call unique name), NOT a fixed silver name: the content
    // depends on the caller's docs frame AND block column, so two queries
    // sharing one spark.graft.silver.dir would overwrite each other's
    // parquet mid-read under a fixed name.
    Silver.scratch(docs
      .select(col("doc_id"), col(block).as("block"), split(col("text"), " ").as("toks"))
      .transform(d => Par.fan(d, col("doc_id"))) // compute-width fan: AQE coalesces a bare repartition(col) on the MB-sized corpus back to ~1 task and the shingle explosion runs serial
      .select(col("doc_id"), col("block"), explode(shingles(col("toks"))).as("sh")),
      "shingle_rows")

  /** Document-frequency cap for shingle posting lists: shingles shared by
    * more than this many documents (boilerplate, stop-phrases) are dropped
    * from the similarity computation entirely. A shingle shared by d docs
    * contributes d² candidate rows to the self-join, so without a cap one
    * viral phrase makes the stage quadratic; with it the worst posting
    * list is bounded and the join cost is ≤ Σ min(dfᵢ,τ)². Dropping hot
    * shingles barely moves Jaccard for real near-dups (their overlap is
    * dominated by content shingles with tiny df) — the standard
    * stop-shingle trick. */
  val MaxShingleDf = 50

  /** Pairwise shingle-set Jaccard within a blocking key, thresholded.
    * |A∩B| via self-join on shingle; |A|,|B| from per-doc counts; jaccard
    * as exact integer division — deterministic across engines. Shingles
    * with document frequency > `maxDf` are excluded from both the
    * intersection and the set sizes (see [[MaxShingleDf]]). */
  def jaccardPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.5, block: String = "lang",
                   maxDf: Int = MaxShingleDf): DataFrame =
    jaccardPairsFrom(Tables.documents(spark, dir), threshold, block, maxDf)

  /** [[jaccardPairs]] over an explicit documents frame (doc_id, text,
    * blocking column). */
  def jaccardPairsFrom(docs: DataFrame, threshold: Double = 0.5,
                       block: String = "lang",
                       maxDf: Int = MaxShingleDf): DataFrame =
    candidateOverlaps(docs, block, maxDf)
      .withColumn("jaccard",
        col("inter_cnt").cast("double") / (col("n1") + col("n2") - col("inter_cnt")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "inter_cnt", "jaccard")
      .orderBy("d1", "d2")

  /** Shared candidate machinery of [[jaccardPairsFrom]] and
    * [[containmentPairsFrom]] (ONE definition — the two were verbatim
    * copies that had to be kept in sync by hand): df-capped shingle
    * posting lists, blocked self-join, per-pair overlap + both set
    * sizes. Callers apply their own similarity measure and threshold. */
  private def candidateOverlaps(docs: DataFrame, block: String,
                                maxDf: Int): DataFrame = {
    val s0 = shingleRows(docs, block)
    // Hot-shingle set is small by construction (only shingles appearing in
    // >maxDf docs) — broadcast the anti-join, no extra shuffle of s0.
    val hot = s0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    val s = s0.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = s.as("a"); val b = s.as("b")
    val inter = a.join(b,
        col("a.sh") === col("b.sh") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter_cnt"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
  }

  /** Per-source duplication rate (q_dup_rate): the corpus-quality metric
    * reported per ingestion source — how much of each source's volume is
    * exact-duplicate mass (within OR across sources; a source that only
    * re-hosts another's content scores 100%). Fingerprint = the same
    * normalization as [[exactDupGroups]]; a doc is "dup" iff its
    * fingerprint occurs >1 time corpus-wide. Same planted-duplicate
    * fixture as q_exact_dups (the synthetic corpus has no natural exact
    * dups): doc_id % 7 = 0 re-keyed +10M under source 'mirror'.
    *
    * Scale shape: one fingerprint-keyed count (map-side combining), one
    * fingerprint-keyed join back (co-partitioned), one |sources|-bounded
    * rollup. `dup_share` is the single IEEE division. */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val planted = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        lit("mirror").as("source"), col("text"))
    val all = Silver.scratch(
      docs.unionByName(planted)
        .select(col("doc_id"), col("source"),
          TextAnalysis.fingerprint(col("text")).as("fp")),
      "duprate_docs") // feeds the count and the join-back
    val counts = all.groupBy("fp").agg(count(lit(1)).as("cnt"))
    all.join(counts, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_share",
        col("n_dup_docs").cast("double") / col("n_docs"))
      .select("source", "n_docs", "n_dup_docs", "dup_share")
      .orderBy("source")
  }

  /** Asymmetric shingle CONTAINMENT (q_containment): c = |A∩B| / min(|A|,|B|)
    * — the "one document quotes / embeds the other" detector that symmetric
    * Jaccard misses by construction: a 10-shingle doc fully contained in a
    * 1000-shingle doc has J ≈ 0.01 but containment 1.0. This is the
    * subset-duplication pass (boilerplate inclusion, quote farms, partial
    * scrapes) a corpus pipeline runs NEXT TO resemblance dedup.
    *
    * Same candidate machinery as [[jaccardPairsFrom]] — df-capped shingle
    * self-join within the blocking key, broadcast hot-shingle anti-join —
    * so the pair space stays bounded by Σ min(df,cap)². The threshold test
    * is an exact integer cross-multiply (inter·den ≥ num·min(n1,n2));
    * the emitted `containment` is one IEEE division of exact longs. */
  def containmentPairs(spark: SparkSession, dir: String,
                       tauNum: Int = 4, tauDen: Int = 5,
                       block: String = "lang",
                       maxDf: Int = MaxShingleDf): DataFrame =
    containmentPairsFrom(Tables.documents(spark, dir), tauNum, tauDen, block, maxDf)

  /** [[containmentPairs]] over an explicit documents frame. */
  def containmentPairsFrom(docs: DataFrame, tauNum: Int = 4, tauDen: Int = 5,
                           block: String = "lang",
                           maxDf: Int = MaxShingleDf): DataFrame =
    candidateOverlaps(docs, block, maxDf)
      .filter(col("inter_cnt") * tauDen >= least(col("n1"), col("n2")) * tauNum)
      .withColumn("containment",
        col("inter_cnt").cast("double") / least(col("n1"), col("n2")))
      .select("d1", "d2", "inter_cnt", "n1", "n2", "containment")
      .orderBy("d1", "d2")

  /** PPJoin-style prefix-filtered set-similarity self-join — the LOSSLESS
    * alternative to the df-capped shingle blocking above: order every
    * document's distinct tokens by ascending global document frequency
    * (rarest first, ties by token), and with Jaccard threshold τ any pair
    * with J ≥ τ must collide inside each side's first
    * n − ⌈τ·n⌉ + 1 tokens (if the prefixes were disjoint, even matching
    * everything after them leaves the overlap below the τ bound). So:
    * candidates = pairs sharing ≥ 1 prefix token; verify exactly. No cap,
    * no recall loss — the candidate volume is bounded by the RAREST
    * tokens' posting lists, which is what makes it the 100 TB shape: the
    * frequent tokens that would make a token self-join quadratic never
    * enter a prefix. Threshold arithmetic is exact-integer on both sides
    * (τ = 3/5: survive iff 5·|∩| ≥ 3·|∪|).
    *
    * Output: (d1, d2, inter_cnt, jac) for every pair with J ≥ τ, d1 < d2.
    */
  def prefixFilteredPairs(docs: DataFrame, tauNum: Int = 3, tauDen: Int = 5): DataFrame = {
    val toks = Silver.scratch(docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok")),
      "prefix_toks")
    prefixPairsOver(toks, tauNum, tauDen)
      .select("d1", "d2", "inter_cnt", "jac")
  }

  /** PPJoin core over an arbitrary (doc_id, tok) item-set frame — the
    * machinery of [[prefixFilteredPairs]] factored out so
    * [[blockingEvalQuery]] can run the same lossless join over SHINGLE
    * sets (`toks` must be materialized by the caller: it feeds the df
    * count and the per-doc sort). */
  private def prefixPairsOver(toks: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val df = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // Per-doc token list, rarest-first: (df, tok) struct sort is portable
    // (integer then lexicographic), so the prefix is deterministic.
    val sorted = toks.join(df, "tok")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), s => s.getField("tok")).as("toks"),
        size(col("st")).as("n"))
    // prefixLen = n − ⌈τ·n⌉ + 1, in exact integer arithmetic:
    // ⌈(num·n)/den⌉ = floor((num·n + den − 1) / den).
    val pre = Silver.scratch(sorted
      .withColumn("plen",
        col("n") - floor((lit(tauNum) * col("n") + lit(tauDen - 1)) / lit(tauDen))
          .cast("int") + lit(1))
      .select(col("doc_id"), col("toks"), col("n"),
        slice(col("toks"), lit(1), greatest(col("plen"), lit(1))).as("prefix")),
      "prefix_docs")
    // Lossless prefix thinning: a candidate pair needs a SHARED prefix
    // token, and a token with global df = 1 occurs in exactly one
    // document — it can never be shared. Dropping df = 1 rows before the
    // self-join leaves the join output identical and removes the bulk of
    // the exploded prefix volume (most rare-first prefix tokens are
    // hapaxes). Materialized once: the frame feeds both join sides.
    val preTok = Silver.scratch(
      Par.fan(
        pre.select(col("doc_id"), explode(col("prefix")).as("tok"))
          .join(df.filter(col("df") >= 2).select("tok"), "tok"),
        col("tok")), // posting-list self-join below explodes per-token df²
                     // — run it at compute width (AQE-proof fan)
      "prefix_ptok")
    val pa = preTok.select(col("doc_id").as("d1"), col("tok"))
    val pb = preTok.select(col("doc_id").as("d2"), col("tok"))
    // fan the candidates: the verify step walks array_intersect over
    // the FULL token arrays per pair — compute-explosive relative to the
    // candidate bytes, so AQE otherwise leaves it on ~2 tasks (measured
    // 1.5-1.8 s on q_dedup_sweep's sweep join). The fan sits BEFORE the
    // distinct and keys on d1 alone: hash(d1) clusters (d1,d2) too, so
    // the distinct elides its own exchange AND its hash(d1, width)
    // output feeds the d1-keyed verify join below with no re-exchange —
    // one pinned-width exchange total, not an extra one.
    val cand = Par.fan(
      pa.join(pb, Seq("tok")).filter(col("d1") < col("d2"))
        .select("d1", "d2"), col("d1")).distinct()
    val byId = pre.select(col("doc_id"), col("toks"), col("n"))
    cand
      .join(byId.select(col("doc_id").as("d1"), col("toks").as("t1"), col("n").as("n1")), "d1")
      .join(byId.select(col("doc_id").as("d2"), col("toks").as("t2"), col("n").as("n2")), "d2")
      .withColumn("inter_cnt", size(array_intersect(col("t1"), col("t2"))).cast("long"))
      .filter(lit(tauDen) * col("inter_cnt") >=
        lit(tauNum) * (col("n1") + col("n2") - col("inter_cnt")))
      .withColumn("jac", col("inter_cnt").cast("double") /
        (col("n1") + col("n2") - col("inter_cnt")))
      .select(col("d1"), col("d2"), col("inter_cnt"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("jac"))
  }

  /** q_prefix_join: [[prefixFilteredPairs]] at τ = 3/5 over a 1-in-10
    * document sample plus planted near-dups (doc_id % 20 == 0 re-keyed
    * +20M, with ~1/4 of tokens dropped by a portable md5 coin — J ≈ 0.75
    * against the original, above τ). The oracle recomputes the EXACT
    * all-pairs token-join Jaccard in DuckDB with no prefix filter at all —
    * passing proves the filter lossless on this corpus, not just fast.
    * (The sample keeps the oracle's unfiltered self-join feasible; the
    * Spark side needs no such cap.) */
  def prefixJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    // The coin keys on the ORIGINAL id, renamed first: a bare
    // col("doc_id") inside the HOF lambda would resolve to the +20M
    // lateral alias in the same select (observed: Spark prefers the
    // lateral alias there; DuckDB the child column — silent divergence).
    val planted = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .withColumnRenamed("doc_id", "base_id")
      .select((col("base_id") + 20000000L).as("doc_id"),
        array_join(filter(array_distinct(split(col("text"), " ")),
          t => substring(md5(concat(col("base_id").cast("string"), lit("|"), t)), 1, 1)
            .isin("0", "1", "2", "3") === false), " ").as("text"))
    prefixFilteredPairs(base.unionByName(planted)).orderBy("d1", "d2")
  }

  /** Number of MinHash permutations (md5 with per-permutation salt) and
    * LSH band width. 8 hashes × 4 bands of 2 → candidate recall ≈ 1 for
    * sim ≥ 0.8, collapse for sim ≤ 0.1. */
  val NumHashes = 8
  val BandWidth = 2

  /** Per-doc MinHash signature columns m0..m7 (min of salted md5 over the
    * shingle set — lexicographic min is engine-portable).
    *
    * Computed as a PER-ROW projection (`array_min` over the shingle
    * array per seed — the same expression the streaming gate
    * [[graft.streaming.StreamDedup.minhashBandBuckets]] uses, value-
    * identical by StreamingSpec) rather than the explode + 8-way
    * min-aggregate it used to be: the aggregate form shuffles every
    * (doc, shingle) row on doc_id before reducing; the projection form
    * computes the identical mins inside one stage — the only exchange
    * left is the document-count-sized repartition that spreads a
    * one-split snapshot across cores (vs the shingle-fanout-sized
    * exchange of the aggregate form), and the reduce itself needs
    * none. Docs too short to shingle yield null
    * signature columns; null band buckets never equality-match, so they
    * exit candidate generation exactly as the absent rows of the
    * aggregate form did. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    // The shingle array is projected into an attribute FIRST: referencing
    // the shingle expression from all 8 seed columns would re-tokenize
    // and re-shingle the text once per seed (HOFs are interpreted —
    // measured 2× slower than even the shuffle form).
    val sig = (0 until NumHashes).map(i =>
      array_min(transform(col("__sh"), s => md5(concat(lit(s"$i|"), s))))
        .as(s"m$i"))
    Tables.documents(spark, dir)
      .transform(d => Par.fan(d, col("doc_id"))) // compute-width fan (AQE-proof; see shingleRows)
      .select(col("doc_id"), shingles(split(col("text"), " ")).as("__sh"))
      .select(col("doc_id") +: sig: _*)
  }

  /** MinHash-LSH near-dup candidates: docs sharing at least one band
    * bucket, scored by signature agreement (est. Jaccard), thresholded at
    * est ≥ 0.5. The join key is the band hash — no shingle-level fanout. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Signatures feed two band branches + two est joins — materialize once.
    val sig = Silver.materialize(minhashSignatures(spark, dir), "minhash_sig")
    val bands = (0 until NumHashes / BandWidth).map { b =>
      val cols = (b * BandWidth until (b + 1) * BandWidth).map(i => col(s"m$i"))
      sig.select(col("doc_id"), md5(concat(cols: _*)).as("bucket"), lit(b).as("band"))
    }.reduce(_ unionByName _)
    val candidates = bands
      .as("x").join(bands.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val s1 = sig.columns.filter(_ != "doc_id")
    val est = candidates
      .join(sig.as("sa"), col("d1") === col("sa.doc_id"))
      .join(sig.as("sb"), col("d2") === col("sb.doc_id"))
      .withColumn("est_sim",
        s1.map(m => when(col(s"sa.$m") === col(s"sb.$m"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / NumHashes)
    est.filter(col("est_sim") >= 0.5)
      .select("d1", "d2", "est_sim")
      .orderBy("d1", "d2")
  }

  /** Sketch calibration (q_minhash_acc): every [[minhashPairs]] candidate
    * re-scored with its EXACT shingle Jaccard, plus the estimator error —
    * the accuracy report that tells an operator whether 8 hashes are
    * enough before they dedup 100 TB on the estimate. The exact pass
    * joins shingle rows only against the (tiny) candidate pair set — a
    * semi-join-shaped probe of the silver shingle table, never an
    * all-pairs rescore. `err = est − jac` is a single IEEE subtraction of
    * two single-division values. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Silver.scratch(minhashPairs(spark, dir), "cal_pairs")
    // shingles() is array_distinct per doc, so (doc_id, sh) is already unique
    val sh = shingleRows(Tables.documents(spark, dir), "lang")
      .select("doc_id", "sh")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("a"), col("d1") === col("a.doc_id"))
      .join(sh.as("b"),
        col("d2") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("d1", "d2"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni").cast("double"))
      .select(col("d1"), col("d2"), col("est_sim"), col("inter"), col("uni"),
        col("jac"), (col("est_sim") - col("jac")).as("err"))
      .orderBy("d1", "d2")
  }

  /** 60-bit SimHash over a token multiset: per-token hash votes ±1 per
    * bit position; the sign vector is the signature. Near-duplicate docs
    * land within a small Hamming distance.
    *
    * The token hash is the FIRST 15 HEX CHARS OF md5(token) read as a
    * 60-bit integer — chosen because it is engine-portable: Spark
    * (`conv(substring(md5(t),1,15),16,10)`), DuckDB
    * (`CAST('0x' || substr(md5(t),1,15) AS BIGINT)`), and this fast
    * single-pass UDF all produce identical signatures, so the oracle can
    * recompute the whole pipeline in SQL. 60 bits (not 64) keeps the
    * value inside a signed BIGINT in every engine. */
  private def simhash60(tokens: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    tokens.foreach { t =>
      val d = md.digest(t.getBytes("UTF-8"))
      // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h = (h << 4) | ((d(7) & 0xf0L) >>> 4)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  private lazy val simhashUdf = udf((toks: Seq[String]) => simhash60(toks))

  def simhash(toks: Column): Column = simhashUdf(toks)

  /** The signature as a native codegen expression over the RAW TEXT
    * ([[graft.plans.SimHash60]]): one pass, no token-array
    * materialization, no UDF encoder boundary — stays inside whole-stage
    * codegen. Bit-identical to `simhash(split(text, " "))` (spec). */
  def simhashText(text: Column): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.plans.SimHash60(org.apache.spark.sql.graft.Shims.expression(text)))

  /** The same signature as pure expressions (per-token, per-bit explode +
    * two aggregations). ~60× row inflation vs the UDF — exists as the
    * cross-engine spec of the semantics; [[simhash]] is the fast path. */
  def simhashRelational(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)").as("h"))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(59))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(when(expr("(shiftright(h, b) & 1) = 1"), 1).otherwise(-1)).as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0, expr("shiftleft(cast(1 as bigint), b)"))
        .otherwise(0L)).as("sig"))

  /** SimHash near-dup pairs: band the 60-bit signature into 4×15-bit
    * chunks (a pair within Hamming ≤ 3 must agree on ≥1 chunk), join on
    * chunk equality, verify with exact `bit_count(xor)`. Same
    * no-O(n²) LSH shape as [[minhashPairs]]. */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsUnsorted(spark, dir, maxHamming).orderBy("d1", "d2")

  /** [[simhashPairs]] without the terminal total order — the order is an
    * oracle-output requirement only; consumers that re-shuffle the pairs
    * anyway ([[dupClusters]]) skip the global sort. */
  def simhashPairsUnsorted(spark: SparkSession, dir: String,
                           maxHamming: Int = 3): DataFrame = {
    val sig = Silver.materialize(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .transform(d => Par.fan(d, col("doc_id"))) // compute-width fan (see shingleRows)
      .select(col("doc_id"), simhashText(col("text")).as("sig")),
      "simhash_sig")
    val chunks = (0 until 4).map { c =>
      sig.select(col("doc_id"), col("sig"),
        lit(c).as("band"),
        shiftright(col("sig"), c * 15).bitwiseAND(lit(0x7fffL)).as("chunk"))
    }.reduce(_ unionByName _)
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected edge list by alternating
    * large-star / small-star contractions (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the shuffle-native
    * CC algorithm: O(log²n) rounds worst case (2–3 in practice for the
    * near-clique graphs LSH dedup produces), per-round cost a groupBy-min
    * plus a join, no driver-side graph state and no collect_list
    * neighborhood blowup (hot nodes aggregate to a single min).
    *
    * Near-dup *pairs* are only half a dedup pipeline: keep-one semantics
    * needs transitive closure (A≈B, B≈C ⇒ {A,B,C} is one group even when
    * A,C share no band). The reference dedupes per-key via upserts
    * (`database/repositories.py` ON CONFLICT families); corpus-level
    * near-dup grouping is the 100 TB generalization.
    *
    * @param edges (u, v) long id pairs, any orientation, self-loops ok
    * @return (node, component) — component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // large-star: center every node, link strictly-larger neighbors to the
    // neighborhood minimum. small-star: orient hi→lo, link the center and
    // its (all smaller) neighbors to the minimum. Both preserve
    // connectivity; alternating converges to per-component stars.
    // `bc` (decided after the input materializes — see below): the
    // per-center minima frames are NODE-bounded, so under the Pregel cap
    // each round's adj⋈mins join broadcasts the minima and the edge-
    // sized side never exchanges for the join (the groupBy and terminal
    // distinct exchanges remain — they carry the round's real data
    // movement); above the cap the shuffle joins are unchanged.
    def largeStar(e: DataFrame, bc: Boolean): DataFrame = {
      val adj = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      adj.join(graft.scale.Pregel.state(mins, bc), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // no distinct: duplicates are tolerated by smallStar's groupBys and
      // removed by its terminal distinct — saves one shuffle per round
    }
    def smallStar(e: DataFrame, bc: Boolean): DataFrame = {
      val oriented = e.select(
          greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(graft.scale.Pregel.state(mins, bc), "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // Fixpoint detection on a cheap set checksum (count + order-insensitive
    // hash sums), collected via `observe` as a SIDE EFFECT of each round's
    // materialization job — no separate aggregation job per round. Sums
    // accumulate in decimal(38,0): xxhash64 spans the full long range, so
    // a long sum overflows under ANSI mode.
    def checksumAggs: Seq[Column] = Seq(
      count(lit(1)).as("c"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"),
      coalesce(sum(col("u").cast("decimal(38,0)") + col("v").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
    // Per-INVOCATION uid in every round name: the round content depends on
    // the edges argument (dupClusters, gridClusterQuery, semanticKeep all
    // drive this with different edge sets), so fixed cc_iter_N names would
    // let two CC runs sharing one spark.graft.silver.dir overwrite each
    // other's rounds mid-loop.
    val ccUid = java.util.UUID.randomUUID().toString.take(8)
    def materializeRound(df: DataFrame, name: String): DataFrame =
      Silver.materialize(df, s"cc_${ccUid}_$name")
    // The raw round keeps self-loops: they don't connect anything, but
    // their endpoints ARE nodes and must appear in the output (labeled as
    // their own singleton component), matching a union-find reference.
    val raw = materializeRound(
      edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
        .distinct(),
      "iter_0")
    // distinct nodes <= 2·|raw| — the cheap bound off the materialized
    // input's block counts (the Pregel nodeBound2 argument)
    val rawCnt = raw.count()
    val bc = graft.scale.Pregel.broadcastState(edges.sparkSession,
      if (rawCnt > Long.MaxValue / 2) Long.MaxValue else rawCnt * 2)
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node"))).distinct()
    var cur = raw.filter(col("u") =!= col("v"))
    // Convergence = two consecutive rounds with identical checksums (the
    // input's own checksum is never computed — a first round always runs).
    var prev: Option[(Long, BigDecimal, BigDecimal)] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      i += 1
      // materialize per round: iterative plans otherwise stack the whole
      // history into one lineage (exponential re-execution under AQE)
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$i")
      val next = materializeRound(
        smallStar(largeStar(cur, bc), bc)
          .observe(obs, checksumAggs.head, checksumAggs.tail: _*),
        s"iter_$i")
      // Round-block hygiene: only the first (node universe) and final
      // (labels) rounds are read after the loop, so a superseded round
      // is freed as soon as its successor is materialized.
      if (i > 1) Silver.release(cur)
      cur = next
      val r = obs.get
      val cs = (r("c").asInstanceOf[Long],
        BigDecimal(r("h").asInstanceOf[java.math.BigDecimal]),
        BigDecimal(r("s").asInstanceOf[java.math.BigDecimal]))
      converged = prev.contains(cs)
      prev = Some(cs)
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // Stars point node→min; centers and isolated/self-loop-only nodes
    // map to themselves.
    cur.select(col("u").as("node"), col("v").as("component"))
      .union(cur.select(col("v").as("node"), col("v").as("component")))
      .union(nodes.select(col("node"), col("node").as("component")))
      .groupBy("node").agg(min("component").as("component"))
  }

  /** Near-duplicate clusters over the documents table: SimHash pairs →
    * transitive closure → per-doc cluster id (min doc_id in the
    * component), cluster size, and the keep-one flag. Docs with no
    * near-dup partner are not emitted (singletons are kept by
    * definition). */
  def dupClusters(spark: SparkSession, dir: String,
                  maxHamming: Int = 3): DataFrame = {
    val pairs = simhashPairsUnsorted(spark, dir, maxHamming)
    val cc = connectedComponents(pairs.select(col("d1").as("u"), col("d2").as("v")))
    val labeled = cc.select(col("node").as("doc_id"), col("component").as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Just the NON-canonical members of the near-dup clusters (doc_id
    * only) — the drop-list consumers ([[TrainingData.curationPipeline]])
    * need exactly this, and [[dupClusters]]' cluster-size aggregation +
    * join back is dead work for them: non-canonical ⇔ node ≠ component
    * straight off the connected-components labels (r15). */
  def nonCanonicalDocs(spark: SparkSession, dir: String,
                       maxHamming: Int = 3): DataFrame = {
    val pairs = simhashPairsUnsorted(spark, dir, maxHamming)
    connectedComponents(pairs.select(col("d1").as("u"), col("d2").as("v")))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
  }

  /** Component-size distribution of the near-dup graph
    * (q_component_sizes): how big do duplicate clusters get — the
    * shape answer behind "is our duplication a long tail of pairs or a
    * few mega-clusters?" (mega-clusters usually mean boilerplate, not
    * true dups, and deserve a rule not a dedup). Reuses [[dupClusters]]'
    * SimHash pair graph + connected components; the size histogram is
    * two keyed aggregates over the component labels — exact counts,
    * sizes are the natural histogram key (cluster sizes are small by
    * construction of the Hamming threshold). */
  def componentSizeDist(spark: SparkSession, dir: String,
                        maxHamming: Int = 3): DataFrame = {
    val pairs = simhashPairsUnsorted(spark, dir, maxHamming)
    val cc = connectedComponents(pairs.select(col("d1").as("u"), col("d2").as("v")))
    cc.groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  /** Keep-one dedup: drop every non-canonical member of a near-dup
    * cluster from the corpus. Broadcast-size drop list at test SF; at
    * 100 TB the anti-join shuffles on doc_id — the minimal possible
    * exchange for this op. */
  def canonicalKeep(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(!col("is_canonical")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Dedup-threshold operating curve (q_dedup_sweep): for each candidate
    * Jaccard threshold τ ∈ {0.3 … 0.9}, how many near-dup pairs and how
    * many distinct victim documents a τ-level dedup would touch — the
    * table an operator reads to PICK τ before deduplicating 100 TB
    * (too low: the corpus bleeds; too high: boilerplate survives).
    *
    * ONE lossless [[prefixPairsOver]] run at the LOWEST τ (3/10) yields
    * every pair with J ≥ 0.3 with its exact Jaccard; the per-threshold
    * rows are then integer predicates over that pair set (10·J ≥ 10·τ
    * compared as 10·inter ≥ τ₁₀·union — no float thresholding), so the
    * whole sweep costs one similarity join regardless of how many
    * thresholds it reports. Victims counted keep-first (the larger
    * doc_id of a pair is the victim, the q_dedup_firstwins convention). */
  def dedupSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    val toks = Silver.scratch(base
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok")),
      "sweep_toks")
    val pairs = Silver.scratch(
      prefixPairsOver(toks, tauNum = 3, tauDen = 10)
        .select(col("d1"), col("d2"), col("inter_cnt"),
          // exact union size rides along so each threshold row is an
          // exact integer predicate over the materialized pair set
          (col("n1") + col("n2") - col("inter_cnt")).as("union_cnt")),
      "sweep_pairs")
    val thresholds = (3 to 9).map { t10 =>
      pairs
        .filter(lit(10L) * col("inter_cnt") >= lit(t10.toLong) * col("union_cnt"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("d2")).as("n_victims"))
        .select(lit(t10 / 10.0).as("tau"), col("n_pairs"), col("n_victims"))
    }
    thresholds.reduce(_ unionAll _).orderBy("tau")
  }

  /** Blocking-quality report for the MinHash LSH bands (q_blocking_eval):
    * pair completeness (recall of the banding stage against EXACT
    * shingle-Jaccard ≥ 1/2 ground truth) and reduction ratio (the share
    * of the n·(n−1)/2 pair space the blocking never considers) — the two
    * numbers that justify a blocking scheme before it gates a 100 TB
    * dedup (ER-evaluation standard: high RR is trivial, high RR at high
    * PC is the actual engineering).
    *
    * Ground truth comes from the LOSSLESS [[prefixPairsOver]] PPJoin run
    * over the same shingle sets the signatures hash (never an all-pairs
    * join); candidates are the raw band-bucket collisions of
    * [[minhashPairs]] BEFORE its signature-verify filter — blocking is
    * exactly the band stage. Both pair sets and the hit intersection are
    * exact counts; PC and RR are one division each. Expected PC < 1 by
    * design: 4 bands of width 2 over 8 hashes recall ≈ 1−(1−J²)⁴ ≈ 0.68
    * at J = 0.5 — the report EXISTS to make that loss visible. */
  /** Band-bucket collision pairs for one (width, count) banding of the
    * 8-hash signature table — the raw blocking stage shared by
    * [[blockingEvalQuery]] and [[bandSweepQuery]]. */
  private def bandCandidates(sig: DataFrame, width: Int): DataFrame = {
    val bands = (0 until NumHashes / width).map { b =>
      val cols = (b * width until (b + 1) * width).map(i => col(s"m$i"))
      sig.select(col("doc_id"), md5(concat(cols: _*)).as("bucket"), lit(b).as("band"))
    }.reduce(_ unionByName _)
    bands.as("x").join(bands.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** Exact shingle-Jaccard ≥ 1/2 ground-truth pairs via the lossless
    * PPJoin — the truth side shared by the two blocking audits. */
  private def shingleTruthPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = Silver.scratch(Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(shingles(split(col("text"), " "))).as("tok")),
      "blk_sh")
    // Returned raw: the only caller is auditTruth, whose cachedAudit
    // parquet write is the materialization — a scratch here would be a
    // second, immediately-discarded copy of the whole pair set.
    prefixPairsOver(sh, tauNum = 1, tauDen = 2).select("d1", "d2")
  }

  /** The three blocking-audit inputs — the 8-hash signature table, the
    * exact shingle-Jaccard ≥ 1/2 PPJoin truth set, and the width-2
    * band-collision candidates (q_blocking_eval's band stage IS
    * q_band_sweep's cand2, since BandWidth = 2) — as parquet
    * [[Silver.corpusScaffold]]s of the documents table. The two audits
    * grade the SAME blocking scheme against the SAME ground truth; at
    * 100 TB each of these is a persisted silver table built once and read
    * by every audit, so rebuilding the PPJoin per query would be the
    * wrong production shape, not just a slow one. Deterministic content
    * → cache reuse cannot change results.
    *
    * Parquet, NOT localCheckpoint: callers (graft.Bench) unpersist all
    * checkpoint RDDs between queries, which would silently kill a
    * checkpoint-backed cache. Written with 16-way repartition so the
    * read-back never scans as the one-partition file that would
    * serialize downstream joins. */
  private def cachedAudit(spark: SparkSession, dir: String, what: String)
                         (build: => DataFrame): DataFrame =
    spark.read.parquet(
      Silver.corpusScaffold(dir, "documents", s"audit_$what") { path =>
        build.repartition(16).write.parquet(path)
      })

  // The builds are passed RAW: cachedAudit's own parquet write is the
  // materialization, so an inner Silver.materialize/scratch wrapper
  // would pay a second full write (or checkpoint copy) that is thrown
  // away as soon as the cache's table exists.
  private def auditSignatures(spark: SparkSession, dir: String): DataFrame =
    cachedAudit(spark, dir, "sig")(minhashSignatures(spark, dir))

  private def auditTruth(spark: SparkSession, dir: String): DataFrame =
    cachedAudit(spark, dir, "truth")(shingleTruthPairs(spark, dir))

  private def auditCand2(spark: SparkSession, dir: String): DataFrame = {
    // Audit-vs-production coupling: this candidate table IS the band
    // stage of minhashPairs only while BandWidth == 2. If the blocking
    // scheme is retuned, this must fail loudly rather than keep grading
    // the retired width (the DuckDB oracle SQL is width-2 verbatim).
    require(BandWidth == 2,
      s"blocking audits and their oracles assume BandWidth=2 (got $BandWidth)")
    cachedAudit(spark, dir, "cand2")(
      bandCandidates(auditSignatures(spark, dir), 2))
  }

  def blockingEvalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = auditCand2(spark, dir)
    val truth = auditTruth(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nCand = cand.agg(count(lit(1)).as("n_cand_pairs"))
    val nTruth = truth.agg(count(lit(1)).as("n_true_pairs"))
    val nHit = cand.join(truth, Seq("d1", "d2")).agg(count(lit(1)).as("n_hit"))
    nDocs.crossJoin(nCand).crossJoin(nTruth).crossJoin(nHit)
      .withColumn("total_pairs", expr("(n_docs * (n_docs - 1)) div 2"))
      .select(col("n_docs"), col("total_pairs"), col("n_cand_pairs"),
        col("n_true_pairs"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true_pairs").cast("double"))
          .as("pair_completeness"),
        ((col("total_pairs") - col("n_cand_pairs")).cast("double") /
          col("total_pairs").cast("double")).as("reduction_ratio"))
  }

  /** LSH banding tuning table (q_band_sweep): the SAME 8-hash signature
    * table banded three ways — 4 bands × width 2 (recall-leaning),
    * 2 × 4 (balanced), 1 × 8 (precision-leaning) — each measured for
    * candidate volume and recall against the exact shingle-Jaccard ≥ 1/2
    * truth. The empirical version of the 1−(1−Jʳ)ᵇ S-curve every LSH
    * deployment is tuned by: signatures are computed ONCE, each config
    * costs one band self-join, and the recall loss of longer bands is
    * measured, not assumed. */
  def bandSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val sig = auditSignatures(spark, dir)
    val truth = auditTruth(spark, dir)
    val nTruth = truth.agg(count(lit(1)).as("n_true_pairs"))
    // Wider bands only REMOVE candidates (a width-2w collision implies
    // both width-w halves collide), so the width-4 and width-8 sets are
    // verified over the materialized width-2 pair set with the raw
    // signatures — one band self-join total, not three (and that one
    // self-join is the session-cached audit candidate set).
    val cand2 = auditCand2(spark, dir)
    def sigSide(p: String) = sig.columns.filter(_ != "doc_id")
      .foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"$p$c"))
      .withColumnRenamed("doc_id", s"${p}id")
    val withSigs = Silver.scratch(
      cand2.join(sigSide("a"), col("d1") === col("aid"))
        .join(sigSide("b"), col("d2") === col("bid")),
      "bsw_sigs") // feeds all three config verdicts
    def bandEq(lo: Int, hi: Int): Column =
      (lo to hi).map(i => col(s"am$i") === col(s"bm$i")).reduce(_ && _)
    val configs = Seq(
      (2, withSigs.select(col("d1"), col("d2"))),
      (4, withSigs.filter(bandEq(0, 3) || bandEq(4, 7))
        .select(col("d1"), col("d2"))),
      (8, withSigs.filter(bandEq(0, 7)).select(col("d1"), col("d2"))))
    configs.map { case (width, cand) =>
      val nCand = cand.agg(count(lit(1)).as("n_cand_pairs"))
      val nHit = cand.join(truth, Seq("d1", "d2"))
        .agg(count(lit(1)).as("n_hit"))
      nCand.crossJoin(broadcast(nTruth)).crossJoin(broadcast(nHit))
        .select(lit(width.toLong).as("row_width"),
          lit((NumHashes / width).toLong).as("n_bands"),
          col("n_cand_pairs"), col("n_true_pairs"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_true_pairs").cast("double"))
            .as("pair_completeness"))
    }.reduce(_ unionAll _).orderBy("row_width")
  }
}
