package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Training-data-pipeline operator catalog (dedup / similarity / text
  * analysis / multimodal byte stats) over the driver's `documents` and
  * `embeddings` tables, each paired with a DuckDB oracle.
  *
  * Hash-bearing operators (minhash, simhash, fingerprints) use md5-hex
  * prefixes — see graft.dedup.Dedup — precisely so these oracles can
  * reproduce them; the speed path swaps in xxhash64.
  */
object TrainingData {
  import Tables.load

  // NOT spread here: for the cheap one-pass queries (token stats,
  // fingerprints, simhash) a repartition of even a tiny table costs
  // more than the per-row work it parallelizes. The heavy operators
  // (MinHash/PPJoin dedup, ANN) spread internally where the signing
  // stage dominates — measured, not assumed.
  private def docs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")

  // ------------------------------------------------------------- text analysis

  /** Token counting: whitespace tokens + BPE-ish regex tokens, per doc. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(docs(spark, dir), "doc_id", "text")

  /** Quality scoring: stopword ratio, punctuation density, composite —
    * one tokenization per row via [[TextAnalysis.withQualityColumns]]. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQualityColumns(docs(spark, dir), "text")
      .select("doc_id", "n_tokens", "stop_ratio", "punct_ratio",
        "quality_score")

  /** Language-ID heuristic, summarized as a (actual, predicted) matrix. */
  def languageId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withLangPred(docs(spark, dir), "text")
      .select(col("lang"), col("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")

  /** 60-bit md5 content fingerprint per document. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint64(col("text")).as("fp"))

  /** The classifier scenario shared by q213/q214: q19's cheap
    * relational features (stopword ratio, punctuation density, length
    * saturation) and the DISTILLATION label — the hand-tuned q19/q84
    * quality gate (`score > 0.44`, splitting this corpus roughly in
    * half) re-learned by a model. Distilling a heuristic gate into a
    * trained classifier is the standard first step toward replacing
    * it (swap the label for human ratings or a teacher model and the
    * pipeline is unchanged); in a synthetic corpus it is also the
    * only honest label, since the generator sprinkles stopwords
    * independently of the `lang`/`source` columns (measured: every
    * candidate organic label is feature-independent here). The label
    * derives from MATERIALIZED feature columns by one fixed
    * expression tree, so both engines label identically. */
  private def classifierFeatures(spark: SparkSession, dir: String)
      : DataFrame = {
    val t = split(lower(col("text")), " ")
    docs(spark, dir)
      .withColumn("_t", t)
      .withColumn("_ntok", size(col("_t")))
      .withColumn("_hits", graft.functions.StopwordHitCount
        .stopwordHits(col("_t"), TextAnalysis.enStopwords))
      .withColumn("_npunct",
        length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")))
      .select(col("doc_id"),
        (col("_hits").cast("double") / col("_ntok")).as("sr"),
        (col("_npunct").cast("double") / length(col("text"))).as("pr"),
        least(col("_ntok") / lit(100.0), lit(1.0)).as("flen"))
      .withColumn("y",
        when(col("sr") * lit(0.5) + (lit(1.0) - col("pr")) * lit(0.3)
          + col("flen") * lit(0.2) > lit(0.44), 1.0).otherwise(0.0))
  }

  private val ClfRounds = 8
  private val ClfLr = 4.0

  /** RELATIONALLY-TRAINED QUALITY CLASSIFIER (q213;
    * [[graft.ml.LinearClassifier]]): the fastText/CCNet-style gate a
    * training pipeline learns rather than hand-tunes — eight
    * full-batch gradient rounds over q19's cheap relational features
    * against the distilled quality-gate label (see
    * [[classifierFeatures]]), unrolled entirely as plan construction
    * (the q151 power-iteration technique applied to supervised
    * learning), then every document scored with the trained weights.
    * The model genuinely learns: AUC ≈ 0.97 and a non-degenerate
    * confusion at both SFs (q214 measures it under the oracle). The
    * Elliott sigmoid link keeps the whole computation inside
    * +,*,/,abs, and every gradient component per-term-rounds to an
    * exact LONG, so the STATIC oracle replays all eight rounds as
    * chained CTEs with nothing frozen and the scores hash
    * bit-identically. Scale: each round is one broadcast of the
    * 4-weight row onto the feature frame plus one map-side-combined
    * gradient fold — the corpus streams through map tasks once per
    * round, no driver-side vectors, no collect. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.ml.LinearClassifier
      .trainAndScore(classifierFeatures(spark, dir),
        Seq("sr", "pr", "flen"), "y", rounds = ClfRounds, lr = ClfLr)
      .select(col("doc_id"), col("score"), col("pred"),
        col("y").cast("long").as("label"))
      .orderBy("doc_id")

  /** CLASSIFIER EVALUATION: exact AUC + confusion census (q214) — the
    * eval gate that decides whether q213's trained quality/language
    * classifier is good enough to filter with, BEFORE it gates a
    * corpus. AUC is the Mann–Whitney rank-sum form with AVERAGE ranks
    * over ties, kept exact: scores collapse to distinct-score groups,
    * a group's doubled average rank is the exact integer
    * `2·cum_before + n + 1`, so twice the positive rank sum — and the
    * whole AUC numerator/denominator — are exact BIGINTs (bounds: 2n²
    * < 2⁶³ to n ≈ 2·10⁹ docs), and AUC is ONE division of exact ints,
    * the q209 float rule. The confusion quadrant at the 0.5 threshold
    * (= positive logit) rides along with exact counts. Scale: one
    * partial-agg shuffle to distinct scores, then a window over the
    * SCORE VOCABULARY (bounded by distinct feature tuples, not the
    * corpus), then two one-row folds. */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame =
    aucAndConfusion(graft.ml.LinearClassifier
      .trainAndScore(classifierFeatures(spark, dir),
        Seq("sr", "pr", "flen"), "y", rounds = ClfRounds, lr = ClfLr))

  /** HELD-OUT CLASSIFIER EVALUATION (q221): the eval q214 runs on the
    * training set, done the way a real gate must be — q44's
    * deterministic hash split carves the corpus 80/20, the q213
    * trainer fits ONLY the train split, and the exact Mann–Whitney
    * AUC + confusion census run ONLY on the held-out 20% the model
    * never saw. Generalization, not memorization, is what licenses a
    * classifier to filter a corpus; with a hash-of-doc_id split the
    * membership is a pure row function (stable under re-runs,
    * appends, partitioning — q44's contract), so the entire chain
    * train→score→rank stays static-CTE-replayable and the held-out
    * AUC hashes bit-identically. Scale: training is q213's
    * broadcast-weight rounds over the 80% slice; scoring is one map
    * pass over the 20%; the rank fold windows over the held-out score
    * vocabulary. */
  def classifierHoldout(spark: SparkSession, dir: String): DataFrame = {
    val feats = Seq("sr", "pr", "flen")
    val f = classifierFeatures(spark, dir)
      .withColumn("u", hashUniform("split", col("doc_id")))
      .localCheckpoint() // feeds train and held-out slices
    val w = graft.ml.LinearClassifier.train(
      f.filter(col("u") < 0.8), feats, "y", rounds = ClfRounds, lr = ClfLr)
    aucAndConfusion(graft.ml.LinearClassifier.score(
      f.filter(col("u") >= 0.8), w, feats))
  }

  /** CLASSIFIER CALIBRATION TABLE (q238) — the reliability diagram's
    * data, next to q214's AUC and q221's held-out check: per score
    * DECILE, how does the mean predicted score compare to the
    * empirical positive rate? AUC only ranks; a gate that THRESHOLDS
    * on score (q84's shape) needs the score to mean what it says,
    * and miscalibration is invisible to rank metrics. Counts are
    * exact BIGINTs; the two per-bucket means are each ONE division of
    * exact integers (scores per-term-round to micro-LONGs before
    * summing), so the table hashes bit-identically. Scale: one
    * partial-agg shuffle over ten buckets. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.ml.LinearClassifier
      .trainAndScore(classifierFeatures(spark, dir),
        Seq("sr", "pr", "flen"), "y", rounds = ClfRounds, lr = ClfLr)
      .select(col("score"), col("y").cast("long").as("label"))
    scored
      .withColumn("bucket",
        least(floor(col("score") * 10), lit(9.0)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"),
        sum(round(col("score") * 1000000).cast("long")).as("sm"))
      .select(col("bucket"), col("n"), col("n_pos"),
        (col("sm").cast("double") / 1000000.0 / col("n")).as("mean_score"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"))
      .orderBy("bucket")
  }

  /** The q214 exact-eval shape over any scored frame carrying
    * (score, pred, y): average-rank Mann–Whitney AUC from exact
    * BIGINTs + the 0.5-threshold confusion census. */
  private def aucAndConfusion(scored0: DataFrame): DataFrame = {
    val scored = scored0
      .select(col("score"), col("pred"), col("y").cast("long").as("label"))
      .localCheckpoint() // feeds both the rank fold and the confusion
    val byScore = scored.groupBy("score")
      .agg(count(lit(1)).as("n"), sum(col("label")).as("npos"))
    val wCum = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byScore
      .withColumn("cum", coalesce(sum(col("n")).over(wCum), lit(0L)))
    val rank = ranked.agg(
      sum(col("npos") * (lit(2L) * col("cum") + col("n") + lit(1L)))
        .as("r2pos"),
      sum(col("npos")).as("n_pos"),
      sum(col("n") - col("npos")).as("n_neg"))
    val conf = scored.agg(
      sum(when(col("pred") === 1L && col("label") === 1L, 1L)
        .otherwise(0L)).as("tp"),
      sum(when(col("pred") === 1L && col("label") === 0L, 1L)
        .otherwise(0L)).as("fp"),
      sum(when(col("pred") === 0L && col("label") === 0L, 1L)
        .otherwise(0L)).as("tn"),
      sum(when(col("pred") === 0L && col("label") === 1L, 1L)
        .otherwise(0L)).as("fn"))
    conf.crossJoin(rank).select(
      col("tp"), col("fp"), col("tn"), col("fn"),
      col("n_pos"), col("n_neg"),
      ((col("r2pos") - col("n_pos") * (col("n_pos") + lit(1L)))
        .cast("double") /
        (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"),
      ((col("tp") + col("tn")).cast("double") /
        (col("tp") + col("fp") + col("tn") + col("fn")).cast("double"))
        .as("accuracy"))
  }

  // ------------------------------------------------------------- deduplication

  /** Exact dedup via content hash on a corpus with fabricated exact
    * duplicates (every 50th doc re-appended under a shifted id):
    * per-source total vs distinct-text counts. */
  def dedupExactDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val dups = d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    d.union(dups)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"))
      .orderBy("source")
  }

  /** MinHash(8) + LSH(4 bands × 2) near-dup pairs, Jaccard-verified
    * at ≥ 0.8 on word-3-gram shingles. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(docs(spark, dir), "doc_id", "text",
      numHashes = 8, rowsPerBand = 2, shingleN = 3, threshold = 0.8)

  /** 16-bit SimHash signature per document. */
  def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      Dedup.simhash(col("text"), bits = 16).as("simhash16"))

  // ------------------------------------------------------------- data mixing

  /** Deterministic per-source document cap — the corpus-mixing
    * primitive that stops one dominant source (a crawl of a single
    * boilerplate-heavy site) from swamping the training mix. Keeps at
    * most `n` docs per source, chosen by content-hash order of doc_id
    * (stable across runs, partitionings, and input order — never
    * "first n encountered", which is nondeterministic under shuffle).
    *
    * Not a per-source bottleneck: a naive
    * `Window.partitionBy("source")` sorts EVERY row of a source in one
    * task — at 100 TB with a handful of dominant sources that is a few
    * reducers sorting terabytes. The pre-prune runs through the
    * [[graft.plans.TopKPerKey]] physical operator instead: partial
    * heaps keep each source's n best map-side, so the exchange carries
    * ≤ n·partitions rows per source regardless of source size. The
    * exact rank (part of the output contract) then windows over ≤ n
    * survivors per source. Result identical to the single-window form
    * (same oracle). */
  def capPerSource(spark: SparkSession, dir: String, n: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = md5(col("doc_id").cast("string"))
    val survivors = graft.plans.TopKPerKey.perKey(docs(spark, dir),
      Seq(col("source")), Seq(ord.asc, col("doc_id").asc), n)
    val w = Window.partitionBy("source").orderBy(ord, col("doc_id"))
    survivors
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= n)
      .select("doc_id", "source", "rank_in_source")
      .orderBy("source", "rank_in_source")
  }

  /** Shard fan-out of the data-mixing pre-passes: enough to spread a
    * dominant source across a cluster's reducers, small enough that the
    * pass-2 inputs (n × shards rows per source) stay trivially small. */
  private val mixShards = 64

  /** Greedy per-source token budget: in the same deterministic hash
    * order, keep documents while the running whitespace-token total
    * stays within `budget` — the "N tokens per source" mix recipe.
    * The doc that crosses the budget is excluded (its cumulative count
    * exceeds it).
    *
    * Distributed two-pass cumulative sum — a naive per-source running
    * window is one reducer sorting a whole source. The ordering key is
    * an md5 hex string, so its first two hex chars form an
    * ORDER-PRESERVING bucket (every row of bucket b sorts before every
    * row of bucket b+1): within-bucket running sums shuffle on
    * (source, bucket) — 256-way fan-out per source — and the global
    * cumulative sum is reassembled by adding each bucket's offset (the
    * sum of all earlier buckets' totals). The only per-source-ordered
    * window runs over the per-bucket AGGREGATE (≤ 256 rows per source),
    * joined back broadcast. Values identical to the single-window form
    * (same oracle). */
  def tokenBudgetPerSource(spark: SparkSession, dir: String,
      budget: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .withColumn("n_tokens", size(split(lower(col("text")), " ")).cast("long"))
      .withColumn("__ord", md5(col("doc_id").cast("string")))
      .withColumn("__bucket",
        conv(substring(col("__ord"), 1, 2), 16, 10).cast("int"))
    val wIn = Window.partitionBy("source", "__bucket")
      .orderBy(col("__ord"), col("doc_id"))
    val withinCum = d.withColumn("__cum_in", sum(col("n_tokens")).over(wIn))
    val wOff = Window.partitionBy("source").orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("source", "__bucket")
      .agg(sum(col("n_tokens")).as("__bucket_tokens"))
      .withColumn("__offset",
        coalesce(sum(col("__bucket_tokens")).over(wOff), lit(0L)))
      .select("source", "__bucket", "__offset")
    withinCum.join(broadcast(offsets), Seq("source", "__bucket"))
      .withColumn("cum_tokens", col("__offset") + col("__cum_in"))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("source", "cum_tokens")
  }

  /** Uniform-in-[0,1) draw from the md5 of `salt:key` — the
    * deterministic coin every sampling/splitting op here flips: stable
    * across runs, partitionings, and cluster sizes (a `rand()` sample
    * is none of those), and reproducible in the DuckDB oracle from the
    * same digest. First 8 hex digits over 2^32. */
  private def hashUniform(salt: String, key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)

  /** Temperature-style corpus mixing: keep each document with a
    * per-source probability (here derived from the source id; in
    * production, the mixing-recipe weights), decided by the
    * deterministic hash coin — so the SAME documents are kept on every
    * run and every cluster, and the mix is reproducible from the
    * recipe alone. Pure narrow filter: no shuffle, no state, scales as
    * a map stage. */
  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    val weight = (substring(col("source"), 4, 10).cast("int") % 4 + 1)
      .cast("double") / lit(5.0)
    docs(spark, dir)
      .filter(hashUniform("mix", col("doc_id")) < weight)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split (80/10/10) by hash threshold —
    * the split every training pipeline needs: membership is a pure
    * function of doc_id (stable under re-runs, appends, and
    * repartitioning — never "random at read time", which leaks val
    * into train across runs). Narrow map stage. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val u = hashUniform("split", col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  /** DETERMINISTIC WEIGHTED SAMPLING without replacement (q222) —
    * Efraimidis–Spirakis A-Res, reshaped for exact cross-engine
    * replay: each document draws the sample key
    * `max(u_1 … u_w)` of `w` independent md5 uniforms, which is
    * DISTRIBUTIONALLY IDENTICAL to the textbook `u^(1/w)` for integer
    * weights but uses only hash arithmetic — no `pow`/`ln`, whose
    * last-ulp disagreement between engines could flip membership at
    * the top-k boundary. The top-k keys per source are the weighted
    * sample: selection favors weight-w docs exactly as E-S prescribes,
    * membership is a pure function of (doc_id, weight) — stable under
    * re-runs, appends, partitioning, the q43/q44 contract extended to
    * WEIGHTED draws. Weight here = length tier 1..4 (longer docs
    * sampled preferentially — the "prefer substantive documents"
    * recipe); in production, any small-integer priority. Scale: a
    * narrow map computes keys, then ONE [[graft.plans.TopKPerKey]]
    * pass (per-partition bounded heaps before the exchange) — never a
    * full sort, never a per-group collect. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val maxW = 4
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), length(col("text")).as("n_ch"))
      .withColumn("w", (lit(1)
        + (col("n_ch") > 175).cast("int")
        + (col("n_ch") > 300).cast("int")
        + (col("n_ch") > 420).cast("int")).cast("long"))
      .withColumn("skey", greatest((1 to maxW).map(j =>
        when(col("w") >= j, hashUniform(s"ws$j", col("doc_id")))
          .otherwise(lit(-1.0))): _*))
    graft.plans.TopKPerKey.perKey(
        d.select(col("source"), col("doc_id"), col("w"), col("skey")),
        Seq(col("source")),
        Seq(col("skey").desc, col("doc_id").asc), k = 8)
      .orderBy("source", "doc_id")
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * whitespace-8-gram with a benchmark set (here the deterministic
    * doc_id % 10 pseudo-benchmark; in production, the eval suites) —
    * the overlap check every serious training-data pipeline runs
    * before training. Shape: explode both sides to (8-gram, doc),
    * equi-join on the gram with the BENCHMARK side broadcast (eval
    * suites are tiny next to a 100 TB corpus), then per-doc counts.
    * The corpus side stays a streamed map — no corpus-side shuffle at
    * all with the broadcast in place. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8), " +
          "i -> concat_ws(' ', slice(t, i + 1, 8)))")).as("g8"))
    val bench = shingled.filter(col("doc_id") % 10 === 0)
      .select(col("g8"), col("doc_id").as("bench_id"))
    shingled.filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(bench), "g8")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("g8")).as("n_shared_8grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** Bloom-accelerated decontamination: the q45 check re-shaped for a
    * benchmark set too big to broadcast as strings. The benchmark
    * 8-grams aggregate into ONE Bloom filter (~1.2 bits/gram/ln(1/fpp)
    * — 10^8 grams ≈ 120 MB vs GBs of broadcast strings), which probes
    * the corpus as a NARROW codegen'd prefilter; only surviving grams
    * (true overlaps + ~1% false positives) enter the exact
    * verification join, so the result is exactly the clean corpus —
    * the Bloom only prunes. Output: corpus documents sharing NO
    * whitespace-8-gram with the benchmark, i.e. the rows a training
    * run may keep. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val shingled = docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8), " +
          "i -> concat_ws(' ', slice(t, i + 1, 8)))")).as("g8"))
    val bench = shingled.filter(col("doc_id") % 10 === 0)
      .select("g8").distinct()
    // Size the filter from the actual benchmark cardinality (a cheap
    // count over the distinct grams) — a hard-coded size silently
    // degrades fpp as the benchmark grows.
    val benchGrams = bench.localCheckpoint(eager = true)
    val expected = math.max(benchGrams.count(), 1L)
    val bloom = graft.functions.BloomSketch.build(
      benchGrams, col("g8"), expectedItems = expected, fpp = 0.01)
    // Exact verify kills false positives. Deliberately NOT broadcast:
    // the whole premise is a benchmark too big to broadcast as strings;
    // the left side is already Bloom-pruned to survivors, so a shuffled
    // semi-join costs O(survivors + bench) — both far below the corpus.
    val contaminated = shingled.filter(col("doc_id") % 10 =!= 0)
      .filter(graft.functions.BloomSketch.mightContain(bloom, col("g8")))
      .join(benchGrams.hint("shuffle_hash"), Seq("g8"), "left_semi")
      .select("doc_id").distinct()
    docs(spark, dir).filter(col("doc_id") % 10 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** SimHash-banded near-dup pairs (Manku et al. WWW'07): Hamming ≤ 3
    * on 56-bit long signatures, candidates from a 4x14-bit band bucket
    * join (fewest bands recall allows = widest = most selective).
    * 56 bits makes the threshold selective on templated text (28 bits
    * passes 3% of ALL pairs — boilerplate saturates the short
    * signature); the answer is then actual near-dups, not corpus
    * statistics. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(docs(spark, dir), "doc_id", "text",
      bits = 56, numBands = 4)

  /** Exact 2-gram-Jaccard near-dup pairs (length-band blocking) via
    * PPJoin-style prefix filtering — same output as the quadratic
    * within-bucket scan, but candidates come from a token equi-join. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilteredJaccardPairs(docs(spark, dir), "doc_id", "text",
      bucketExpr = floor(col("n_chars") / 50), shingleN = 2,
      threshold = 0.6)

  // ------------------------------------------------------------- similarity

  /** Exact cosine top-3: query vectors vec_id < 5, corpus vec_id ≥ 5. */
  def knnCosineBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.bruteForceTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3)
  }

  /** q26's exact KNN through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.TopKPerKey]]: logical node + strategy + partial/
    * final heap execs): the scored candidate stream is cut to k per
    * query BEFORE the exchange, so the shuffle carries k·partitions
    * rows per query instead of every candidate. Same static oracle as
    * q26 — the operator must reproduce the window formulation's
    * result set exactly. */
  def knnCosineTopKOperator(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.bruteForceTopKViaOperator(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3)
  }

  /** Sign-LSH(6-bit) bucketed ANN top-3 for the same query set. */
  def annLshBucketed(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.signLshTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3, bits = 6)
  }

  /** MULTI-PROBE sign-LSH(6-bit) ANN top-3 for the same query set as
    * q26/q27 (Lv et al. VLDB'07's idea on the sign-LSH family): each
    * query probes its own bucket PLUS every bucket at Hamming
    * distance 1 — the buckets a borderline vector most likely fell
    * into. Probing (bits+1)/2^bits of the corpus lifts recall toward
    * exact (TrainingDataSpec pins recall ≥ q27's single-probe) while
    * the join stays a plain bucket equi-join: only the broadcast
    * query side fans out ×(bits+1); a corpus vector sits in exactly
    * one bucket, so each (query, corpus) pair meets at most once and
    * no dedup pass is needed. */
  def annLshMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.signLshMultiProbeTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3, bits = 6)
  }

  /** Embedding-cosine near-dup pairs: 4-bit sign-LSH buckets, verified
    * at cosine ≥ 0.4 (threshold calibrated to the synthetic corpus —
    * real near-dup dedup uses ~0.95 on normalized embeddings). */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(embs(spark, dir), "vec_id", "embedding",
      bits = 4, threshold = 0.4)

  /** IVF ANN top-3 (nlist=8, nprobe=3, 2 Lloyd rounds) for the same
    * query set as q26/q27. TrainingDataSpec checks recall against the
    * brute-force ground truth; the SEARCH phase (assignment + probe +
    * rank) is additionally hash-checked against a generated DuckDB
    * oracle with the trained centroids frozen as literals
    * ([[AnnOracles.ivfSql]] — params must mirror this call). */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.ivfTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding",
      k = 3, nlist = 8, nprobe = 3)
  }

  /** PQ ANN top-3 (m=8 subspaces, ksub=16 codes, ADC + exact re-rank)
    * for the same query set as q26/q27/q30 — the memory-bound ANN
    * scale path (codes are 64× smaller than the raw vectors).
    * rerank=120: the synthetic uniform embeddings are a
    * distance-concentration worst case for quantization (all pairwise
    * distances nearly equal), so the ADC ordering needs a deeper
    * exact re-rank than clustered real embeddings would (measured
    * here: recall@3 goes 4/15 → 14/15 from rerank 12 → 120; at scale
    * rerank is a per-query CONSTANT independent of corpus size).
    * Training recall is spec-checked; the search phase (normalize →
    * encode → ADC → top-r → re-rank) hash-checks against the
    * generated frozen-codebook oracle [[AnnOracles.pqSql]] (params
    * must mirror this call). */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.pqTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding",
      k = 3, m = 8, ksub = 16, rerank = 120)
  }

  /** Top-k TF-IDF terms per document — the corpus-indexing / salient-
    * term primitive (smoothed idf: ln((N+1)/(df+1)) + 1, tf normalized
    * by document length).
    *
    * Scale shape: the exploded (doc, term) frame is the unavoidable
    * big intermediate — it immediately collapses through a partial-agg
    * groupBy (one shuffle on (doc_id, term)). Document frequencies
    * aggregate from the ALREADY-unique (doc, term) pairs (never the
    * raw token stream), the corpus size joins in as a broadcast 1-row
    * frame (no driver action), and the per-doc top-k window is safe:
    * a document's distinct terms bound its partition. Ties break on
    * ascending term so ranks are deterministic in any engine. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val d = docs(spark, dir)
    // tf feeds three consumers (scores, lengths, document frequencies):
    // materialize it eagerly (localCheckpoint) so the corpus is
    // exploded and counted ONCE, not thrice. Checkpoint blocks are
    // auto-dropped by the ContextCleaner once the frame is
    // unreachable — a persist here would outlive the call and
    // accumulate cached frames in long-lived sessions.
    val tf = d
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("n_td"))
      .localCheckpoint()
    val len = tf.groupBy("doc_id").agg(sum("n_td").as("len_d"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(len, "doc_id")
      .join(dft, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        (col("n_td") / col("len_d").cast("double")) *
          (log((col("n_docs") + lit(1)) / (col("df_t") + lit(1)).cast("double"))
            + lit(1.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Top-k BM25 terms per document (Okapi BM25, k1=1.2, b=0.75) — the
    * search-relevance twin of [[tfidfTopTerms]], sharing its plan
    * shape; the only additions are the corpus-average document length
    * (second broadcast one-row frame) and the saturation/length
    * normalization. idf = ln((N − df + 0.5)/(df + 0.5) + 1) — the
    * Lucene-style always-positive form. */
  def bm25TopTerms(spark: SparkSession, dir: String, k: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val d = docs(spark, dir)
    // eagerly materialized for the same three-consumer reason (and
    // with the same self-cleaning lifecycle) as tfidfTopTerms
    val tf = d
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("n_td"))
      .localCheckpoint()
    val len = tf.groupBy("doc_id").agg(sum("n_td").as("len_d"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val avg = len.agg(
      (sum("len_d").cast("double") / count(lit(1))).as("avg_len"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("bm25").desc, col("term").asc)
    val idf = log((col("n_docs") - col("df_t") + lit(0.5)) /
      (col("df_t") + lit(0.5)) + lit(1.0))
    val sat = (col("n_td") * (lit(k1) + 1)) /
      (col("n_td") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("len_d") / col("avg_len")))
    tf.join(len, "doc_id")
      .join(dft, "term")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avg))
      .withColumn("bm25", idf * sat)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("bm25"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** IVF+PQ composite ANN (residual-encoded, FAISS IVFPQ shape) for
    * the same query set: probes 5 of 8 lists, ADC over residual codes,
    * exact re-rank (same rerank=120 rationale as q57 — the synthetic
    * uniform embeddings are quantization's worst case). Measured
    * recall@3 here: 12/15 while scanning codes from only
    * nprobe/nlist of the corpus. Search phase hash-checks against the
    * generated frozen-model oracle [[AnnOracles.ivfPqSql]] (params
    * must mirror this call). */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.ivfPqTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding",
      k = 3, nlist = 8, nprobe = 5, m = 8, ksub = 16, rerank = 120)
  }

  /** q30's IVF search served from a PERSISTED index
    * ([[graft.similarity.IvfIndex]]): build commits the assigned
    * corpus hive-partitioned by cluster (+ the centroid model) as
    * versioned tables, query probes via manifest partition pruning.
    * Same params as q30 → identical results, so the same generated
    * frozen-centroid oracle hash-checks the whole index path
    * (train → persist → reload → probe → prune → rank). */
  def annIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    // per-run temp root: a fixed path keyed on the scale dir races
    // with concurrent harness runs and accumulates stale versions
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_index_").toString
    graft.similarity.IvfIndex.build(spark,
      e.filter(col("vec_id") >= 5), "vec_id", "embedding", root,
      nlist = 8, iters = 2)
    graft.similarity.IvfIndex.query(spark, root,
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nprobe = 3)
  }

  /** q58's IVF+PQ search served from a PERSISTED index
    * ([[graft.similarity.IvfPqIndex]]): the commit stores per vector
    * only (cluster, m codes) partitioned by cluster — 64× smaller
    * than the corpus — plus raw vectors for the bounded re-rank and
    * the model tables. Same params as q58 → identical results → the
    * same generated frozen-model oracle hash-checks the persisted
    * path. */
  def annIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_index_").toString
    graft.similarity.IvfPqIndex.build(spark,
      e.filter(col("vec_id") >= 5), "vec_id", "embedding", root,
      nlist = 8, m = 8, ksub = 16, iters = 2)
    graft.similarity.IvfPqIndex.query(spark, root,
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nprobe = 5, rerank = 120)
  }

  /** FILTERED vector search on the persisted IVF index — the
    * metadata-constrained ANN every retrieval stack needs ("nearest
    * neighbors WHERE license is permissive / language = en / source
    * != benchmark"). The index stores the filter column as PAYLOAD
    * (built with `payload = Seq("label")`), so the predicate applies
    * INSIDE the partition-pruned probe scan — non-matching vectors
    * are never scored, and no query-time join against the source
    * table happens. Training sees the full corpus (the centroids are
    * identical to q30/q69's — same deterministic path), which the
    * generated oracle exploits: same frozen centroids, corpus
    * restricted to `label = 0`. */
  def annIvfFilteredIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_filtered_").toString
    graft.similarity.IvfIndex.build(spark,
      e.filter(col("vec_id") >= 5), "vec_id", "embedding", root,
      nlist = 8, iters = 2, payload = Seq("label"))
    graft.similarity.IvfIndex.query(spark, root,
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nprobe = 3, filter = Some(col("label") === 0))
  }

  /** Winnowing (rolling-hash) fingerprint near-dup pairs — the
    * substring/containment-oriented dedup family (SIGMOD'03 winnowing),
    * complementing MinHash (set resemblance) and SimHash
    * (distributional). No SQL oracle: the rolling-hash + windowed-min
    * selection has no tractable single-statement form; the driver
    * records the rows-only check and TrainingDataSpec verifies overlap
    * with the exact n-gram-Jaccard ground truth. */
  def winnowNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowingNearDupPairs(docs(spark, dir), "doc_id", "text",
      k = 12, w = 6, threshold = 0.4, maxDf = 20)

  /** Connected components over the embedding near-dup pair graph
    * (q29's edges): the cluster ids a dedup pipeline keeps one
    * canonical document per. Iterative min-label propagation; the
    * DuckDB oracle replays it with a recursive CTE. */
  def neardupComponents(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        embedNearDup(spark, dir).select("vec_a", "vec_b"),
        "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("component"))
      .orderBy("vec_id")

  /** END-TO-END semantic dedup purge — the chain a real pipeline runs
    * as ONE flow, composed from pieces that are each oracled alone:
    * embedding near-dup pairs (q29's sign-LSH + cosine verify) →
    * connected components (q36's min-label propagation) → per-cluster
    * canonical survivor (the minimum id) → row-level DELETE of the
    * victims from a VERSIONED corpus copy via deletion vectors → read
    * the surviving snapshot. The victim list flows as a DataFrame
    * into [[graft.io.VersionedTable.deleteVectorizedKeys]] — it never
    * collects to the driver, so the purge is O(victims) sidecar bytes
    * at any corpus size, and the pre-purge corpus stays readable via
    * time travel (the audit trail a compliance team asks for). The
    * oracle replays pairs → components (recursive CTE) → NOT IN over
    * the raw table, checking the whole chain end-to-end. */
  def semanticPurge(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-sempurge")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(docs(spark, dir).select(col("doc_id"), col("source")))
    val victims = Dedup.connectedComponents(
        embedNearDup(spark, dir).select("vec_a", "vec_b"),
        "vec_a", "vec_b")
      .filter(col("node") =!= col("component")) // min id survives
      .select(col("node"))
    vt.deleteVectorizedKeys("doc_id", victims)
    vt.read().select("doc_id", "source").orderBy("doc_id")
  }

  /** Dedup-savings REPORT — the observability face of the dedup
    * chain: per near-dup cluster, its member count, canonical
    * survivor (min id), total payload bytes, and the bytes a purge
    * would reclaim (total minus the canonical's). The number a data
    * team actually reports for a dedup run. Integer byte sums are
    * exact and order-free; canonical byte size via min_by keyed on
    * the unique member id (deterministic). Same component machinery
    * as q36/q76. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val comps = Dedup.connectedComponents(
      embedNearDup(spark, dir).select("vec_a", "vec_b"), "vec_a", "vec_b")
    comps.join(
        docs(spark, dir).select(col("doc_id").as("node"),
          octet_length(col("text")).cast("long").as("bytes")),
        "node")
      .groupBy("component")
      .agg(
        count(lit(1)).as("n_members"),
        min(col("node")).as("canonical_id"),
        sum(col("bytes")).as("bytes_total"),
        (sum(col("bytes")) - min_by(col("bytes"), col("node")))
          .as("bytes_saved"))
      .orderBy("component")
  }

  // ------------------------------------------------------------- multimodal

  /** Byte-level stats of the text payload treated as an opaque binary
    * column, grouped by source — the relational face of the multimodal
    * plumbing in graft.multimodal (decode itself is a typed
    * mapPartitions stub, exercised in ScalaTest, not oracle-able). */
  def byteStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), octet_length(col("text")).as("n_bytes"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        // The oracle must CAST its sum to BIGINT: DuckDB sum(INTEGER)
        // is HUGEINT, which pandas widens to float64 — an int64 Spark
        // column then hash-mismatches on representation alone (r2 q28).
        // avg as sum::double / count: the long sum is exact, so both
        // engines divide the same double by the same long — identical
        // bits, no cross-engine round(double) semantics (VERDICT r1 #1).
        (sum(col("n_bytes")).cast("double") / count(col("n_bytes")))
          .as("avg_bytes"))
      .orderBy("source")

  /** REAL AUDIO DECODE under the arithmetic oracle (q161): per-doc
    * deterministic square-wave WAVs (`Multimodal.squareWav`) stream
    * through the REAL `javax.sound` decode path
    * (`Multimodal.decode` → `decodeWav`), and the emitted metadata +
    * amplitude features are compared against DuckDB computing their
    * CLOSED FORMS from the same (amp, halfPeriod, n) parameters —
    * arithmetic independence without needing a codec in the oracle
    * engine. Every output is integral (amplitudes recovered as
    * `round(f·32768)`, crossings as `round(zcr·n)` — float32 error
    * ≪ 0.5 at these magnitudes), so no cross-precision formatting can
    * diverge. A header-layout, endianness, sample-decode, or
    * frame-count bug anywhere in synth → parse → PCM walk breaks the
    * hash. Scale shape: one narrow map per media row (per-partition
    * codec init in mapPartitions — the multimodal contract), no
    * shuffle until the final order-by. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 200).as[Long]
    val media = ids.map { id =>
      val amp = (4096 + (id % 8) * 2048).toInt
      val hp = (4 + id % 5).toInt
      val n = (800 + (id % 7) * 160).toInt
      graft.multimodal.Multimodal.MediaRecord(
        id, "audio", graft.multimodal.Multimodal.squareWav(amp, hp, n, 8000),
        0, 0)
    }
    graft.multimodal.Multimodal.decode(media)
      .select(col("media_id"),
        col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("sample_rate"),
        col("height").cast("long").as("channels"),
        col("n_frames").cast("long").as("n_samples"),
        round(element_at(col("feature"), 1) * 32768).cast("long")
          .as("rms_amp"),
        round(element_at(col("feature"), 2) * 32768).cast("long")
          .as("mean_amp"),
        round(element_at(col("feature"), 3) * 32768).cast("long")
          .as("peak_amp"),
        round(element_at(col("feature"), 4) * col("n_frames")).cast("long")
          .as("n_crossings"))
      .orderBy("media_id")
  }

  /** FUZZY (EDIT-DISTANCE) DUPLICATE PAIRS (q166): the typo-grade
    * dedup modality — `Dedup.editDistancePairs` blocks on (lang,
    * 8-char prefix) and runs codegen'd `levenshtein` over 40-char
    * title keys, catching near-identical strings that token-shingle
    * methods miss. Exact integer distances, identical definition in
    * DuckDB → hash-oracled end to end. */
  def fuzzyDupPairs(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.editDistancePairs(
      docs(spark, dir), "doc_id", "text", "lang", maxDist = 12)
      .orderBy("id_a", "id_b")

  /** HTML BOILERPLATE STRIP (q162): every web-crawl pipeline's first
    * cleaning pass, run end-to-end under the oracle. Each document is
    * wrapped in deterministic page chrome (head/nav/footer markup with
    * character entities — the fixture every crawled page carries),
    * then `TextAnalysis.stripHtml` recovers the content: tags → space,
    * entity decode, whitespace collapse. Outputs are the per-doc
    * cleaning ledger a crawl report publishes: cleaned length, removed
    * boilerplate chars, retention ratio (exact-int division — rule #2,
    * no rounding). Both engines run the SAME regex semantics by
    * construction (see stripHtml's portability notes). Scale shape:
    * narrow per-row string kernels, zero shuffles before the output
    * sort. */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title></head><body><nav><a href=\"/\">home</a> &amp; " +
        "<a href=\"/about\">about</a></nav><p>"),
      col("text"),
      lit("</p><footer>&copy; "), col("source"),
      lit("</footer></body></html>"))
    docs(spark, dir)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"), col("html"),
        graft.text.TextAnalysis.stripHtml(col("html")).as("cleaned"))
      .select(col("doc_id"),
        length(col("cleaned")).cast("long").as("clean_chars"),
        (length(col("html")) - length(col("cleaned"))).cast("long")
          .as("removed_chars"),
        (length(col("cleaned")).cast("double") / length(col("html")))
          .as("retention"))
      .orderBy("doc_id")
  }

  /** JSONL INGEST with corrupt-record quarantine (q184): the shape
    * every LLM-corpus ingest starts from — a line-delimited JSON feed
    * where some lines are truncated/garbled, parsed with an explicit
    * schema and the bad lines QUARANTINED, never dropped silently and
    * never allowed to poison the batch. The fixture builds each line
    * by pure-ASCII concatenation (identical bytes on both engines —
    * no engine-specific JSON serialization in the fixture), truncates
    * every 17th line into invalid JSON, then each engine runs its own
    * REAL JSON parser: Spark `from_json` (permissive mode → all-null
    * struct on corrupt input), DuckDB `json_valid`/`json_extract`.
    * Output is the ingest ledger: parse status + extracted fields per
    * line. Scale shape: narrow per-row parse, zero shuffles before
    * the output sort — a 100 TB JSONL crawl parses at scan speed with
    * the corrupt tail routed to a quarantine sink. */
  def jsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val line0 = format_string("""{"doc_id":%d,"lang":"%s","n":%d}""",
      col("doc_id"), col("lang"), length(col("text")))
    docs(spark, dir)
      .select(col("doc_id"), line0.as("line0"))
      .withColumn("line",
        when(col("doc_id") % 17 === 0,
          expr("substring(line0, 1, length(line0) - 5)"))
          .otherwise(col("line0")))
      .withColumn("p",
        from_json(col("line"), "doc_id LONG, lang STRING, n LONG",
          Map.empty[String, String]))
      .select(col("doc_id"),
        when(col("p.doc_id").isNotNull, 1L).otherwise(0L).as("ok"),
        when(col("p.doc_id").isNotNull, col("p.lang")).as("lang_out"),
        when(col("p.doc_id").isNotNull, col("p.n")).as("n_out"))
      .orderBy("doc_id")
  }

  /** REPEATED-CHUNK BOILERPLATE CENSUS (q187): the 64/48 sliding
    * chunker's windows (q105's operator shape) reduced to md5
    * fingerprints and turned into the C4-style paragraph-dedup signal
    * — a chunk whose fingerprint recurs across ≥ 2 DISTINCT documents
    * is boilerplate (nav chrome, license headers, templated spam),
    * and the census (how many docs, how many occurrences, how wide a
    * token span) is what a cleaning pass consults before cutting.
    * Scale shape: chunks collapse by fingerprint with map-side
    * partial aggregation — the shuffle carries one row per DISTINCT
    * chunk, not per occurrence; the census output is bounded by the
    * repeated vocabulary, tiny next to the corpus. */
  def repeatedChunks(spark: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    val chunks = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("start", explode(sequence(lit(0),
        greatest(size(col("toks")) - 1, lit(0)), lit(S))))
      .select(col("doc_id"),
        size(slice(col("toks"), col("start") + 1, lit(W)))
          .cast("long").as("n_toks"),
        md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(W))))
          .as("chunk_md5"))
    chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max(col("n_toks")).as("max_tokens"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_md5")
  }

  /** URL CANONICALIZATION + CANONICAL-KEY DEDUP CENSUS (q193): each
    * doc gets a deterministically MESSY url (upper-cased host,
    * explicit :80, doubled slashes, rotating utm params, fragments,
    * optional trailing slash — the variants real crawls produce for
    * one page), [[TextAnalysis.canonicalizeUrl]] reduces them, and
    * the census groups by the canonical key: docs per page, distinct
    * RAW variants collapsed, first doc. The oracle rebuilds the same
    * bytes and mirrors every canonicalization step in RE2, so a
    * regex that over- or under-normalizes hash-mismatches. Scale:
    * narrow per-row regex kernels, one group shuffle on the
    * canonical key — the standard first join key of crawl dedup. */
  def urlCanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      lit("HTTP://WWW."), upper(col("source")), lit(".COM:80//docs//"),
      (id % 50).cast("string"),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(id % 3 === 0, concat(
        lit("?utm_source=feed&utm_medium=rss&page="),
        (id % 4).cast("string")))
        .when(id % 3 === 1, concat(lit("?page="),
          (id % 4).cast("string"), lit("&utm_campaign=x")))
        .otherwise(lit("")),
      when(id % 2 === 0, concat(lit("#sec-"), (id % 7).cast("string")))
        .otherwise(lit("")))
    docs(spark, dir)
      .select(id, url.as("raw_url"))
      .withColumn("canonical_url",
        TextAnalysis.canonicalizeUrl(col("raw_url")))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_raw_variants"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("canonical_url")
  }

  // ------------------------------------------------------- sequence packing

  /** Sequence packing for pretraining (the concat-and-chop op): docs
    * are concatenated in a deterministic hash order within 256
    * independent pack STREAMS and chopped into fixed `seqLen`-token
    * training sequences; each doc reports its stream, the sequence
    * index its first token lands in, and the token offset inside that
    * sequence. Streams make packing embarrassingly parallel (a
    * sequence never crosses streams) and the hash order makes the
    * layout a pure function of doc_ids — stable across runs, clusters,
    * and partitionings.
    *
    * Scale shape: same distributed two-pass cumulative sum as
    * [[tokenBudgetPerSource]] (its q40 oracle hash-pins the
    * technique) — within-(stream, shard) running sums fan out 256×256
    * ways; the only per-stream-ordered window runs over the per-shard
    * AGGREGATE (≤256 rows per stream), joined back broadcast. No
    * reducer ever sorts a stream's full document list. */
  def seqPack(spark: SparkSession, dir: String, seqLen: Long = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .withColumn("n_tokens", size(split(lower(col("text")), " ")).cast("long"))
      .withColumn("__ord",
        md5(concat(lit("pack:"), col("doc_id").cast("string"))))
      .withColumn("stream",
        conv(substring(col("__ord"), 1, 2), 16, 10).cast("int"))
      .withColumn("__shard",
        conv(substring(col("__ord"), 3, 2), 16, 10).cast("int"))
    val wIn = Window.partitionBy("stream", "__shard")
      .orderBy(col("__ord"), col("doc_id"))
    val withinCum = d.withColumn("__cum_in", sum(col("n_tokens")).over(wIn))
    val wOff = Window.partitionBy("stream").orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("stream", "__shard")
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__offset", coalesce(sum(col("__t")).over(wOff), lit(0L)))
      .select("stream", "__shard", "__offset")
    withinCum.join(broadcast(offsets), Seq("stream", "__shard"))
      .withColumn("__start", col("__offset") + col("__cum_in") - col("n_tokens"))
      .select(col("doc_id"), col("stream"), col("n_tokens"),
        expr(s"__start div $seqLen").as("seq_index"),
        (col("__start") % seqLen).as("seq_offset"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- unigram LM quality

  /** Unigram-LM vocabulary-coverage quality scoring: the corpus trains
    * its own top-`vocabSize` unigram vocabulary (by frequency, term
    * tiebreak), and each doc reports its token count, out-of-vocab
    * count and fraction, and the log-probability of its RAREST
    * in-vocab token — the cheap LM-based junk detector (gibberish and
    * boilerplate-free spam score high OOV / low min-logp).
    *
    * Scale shape: term counts collapse through one partial-agg shuffle;
    * the top-V pick reuses [[Analytics.topKPerGroup]]'s sharded
    * pre-prune (a bare ORDER BY over the full vocabulary would be one
    * reducer sorting billions of junk terms at 100 TB); the trained
    * vocab (V rows) broadcasts back over the token stream; per-doc
    * stats are count/min aggregates — ORDER-INDEPENDENT on purpose, so
    * the oracle hash-matches without any cross-engine float-summation
    * contract (an avg-logp would sum doubles in engine-dependent
    * order). */
  def unigramOov(spark: SparkSession, dir: String,
      vocabSize: Int = 256): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
    val total = toks.agg(count(lit(1)).as("total"))
    // topKPerGroup counts the raw token stream itself (partial-agg
    // shuffle on the term), so n IS the corpus frequency
    val vocab = Analytics
      .topKPerGroup(toks.withColumn("__g", lit(0)), "__g", "term",
        vocabSize, shards = 32)
      .crossJoin(broadcast(total))
      .select(col("term"),
        log(col("n").cast("double") / col("total")).as("logp"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("logp").isNull, 1)).as("n_oov"),
        min(col("logp")).as("min_logp"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens"))
      .select("doc_id", "n_tokens", "n_oov", "oov_frac", "min_logp")
      .orderBy("doc_id")
  }

  /** CCNET-STYLE LM PERPLEXITY QUALITY SCORE (q168) — the canonical
    * "filter web text by language-model perplexity" pass (CCNet /
    * GPT-2 WebText): an add-one-smoothed top-V unigram LM scores
    * every document; low average log-probability marks boilerplate
    * and gibberish. This is the avg-logp q68 deliberately AVOIDED
    * (double sums are shuffle-order-dependent) made hash-safe: each
    * token's log-prob rounds to integer MICRO-NATS in the V-row
    * vocabulary frame FIRST, so the per-doc aggregation is a LONG
    * sum — order-independent, bit-identical cross-engine (the q130
    * scaled-ln discipline). Scale shape: token counts collapse
    * map-side; the V-row vocab (scored once) broadcasts back over
    * the token stream; per-doc sums are one partial-agg shuffle. */
  def lmQualityScore(spark: SparkSession, dir: String,
      vocabSize: Int = 512): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
    val total = toks.agg(count(lit(1)).as("total"))
    val vc = Analytics
      .topKPerGroup(toks.withColumn("__g", lit(0)), "__g", "term",
        vocabSize, shards = 32)
    val vstat = vc.agg(count(lit(1)).as("v"))
    // p(t) = (c_t + 1) / (N + V + 1); p(oov) = 1 / (N + V + 1)
    val denom = (col("total") + col("v") + lit(1)).cast("double")
    val vocab = vc.crossJoin(broadcast(total)).crossJoin(broadcast(vstat))
      .select(col("term"),
        round(log((col("n") + lit(1)).cast("double") / denom) * 1000000)
          .cast("long").as("lp"))
    val oov = total.crossJoin(vstat)
      .select(round(log(lit(1.0) / denom) * 1000000)
        .cast("long").as("olp"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(oov))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("lp").isNull, 1)).as("n_oov"),
        sum(coalesce(col("lp"), col("olp"))).as("sum_logp_micros"))
      .withColumn("avg_logp_micros",
        col("sum_logp_micros").cast("double") / col("n_tokens"))
      .select("doc_id", "n_tokens", "n_oov", "sum_logp_micros",
        "avg_logp_micros")
      .orderBy("doc_id")
  }

  /** Bigram-LM coverage scoring — q68's unigram vocabulary check
    * upgraded to CONDITIONAL statistics, the perplexity-proxy quality
    * gate (CCNet-style: a doc whose word transitions never occur in
    * the corpus is junk even when its words do). The corpus trains
    * its own model: bigram counts c(w1,w2) via one partial-agg
    * shuffle of the bigram stream, prefix totals c(w1,·) via one
    * aggregate OVER THE COUNT TABLE (never the stream again), and a
    * top-V vocabulary picked by the sharded top-k (no single-reducer
    * sort of the full bigram vocabulary — billions of distinct junk
    * bigrams at 100 TB). Conditional logp = ln(c12 / c(w1,·)) per
    * vocab bigram; the ≤V-row scored vocab broadcasts back over the
    * stream. Per-doc outputs are count/min aggregates —
    * order-independent on purpose (q68's rationale: no cross-engine
    * float-summation contract). */
  def bigramLm(spark: SparkSession, dir: String,
      vocabSize: Int = 512): DataFrame = {
    val bgs = docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat_ws(' ', slice(t, i + 1, 2)))")).as("bg"))
    val cnt = bgs.groupBy("bg").agg(count(lit(1)).as("c12"))
    val pref = cnt
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
    // sharded top-V over the raw stream (n = corpus frequency), then
    // conditional logp from the count tables; vocab side broadcasts
    // into the (much larger) prefix table, result is ≤ V rows
    val vocab = Analytics
      .topKPerGroup(bgs.withColumn("__g", lit(0)), "__g", "bg",
        vocabSize, shards = 32)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val vocabLp = pref.join(broadcast(vocab), "w1")
      .select(col("bg"),
        log(col("n").cast("double") / col("c1")).as("logp"))
    bgs.join(broadcast(vocabLp), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("logp").isNull, 1)).as("n_oov"),
        min(col("logp")).as("min_logp"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_bigrams"))
      .select("doc_id", "n_bigrams", "n_oov", "oov_frac", "min_logp")
      .orderBy("doc_id")
  }

  /** PER-DOCUMENT CROSS-ENTROPY under the corpus bigram LM (q217):
    * model-based quality scoring — the KenLM/CCNet perplexity filter
    * shape, over q77's own LM (top-512 bigram vocabulary, conditional
    * `ln(c12/c1)` from exact integer counts). Per document: the mean
    * negative log-probability of its IN-VOCAB bigrams — high
    * cross-entropy = unusual text under the corpus distribution (the
    * gibberish/boilerplate signal length heuristics miss), with the
    * OOV count reported alongside (q77's oov story). Float contract:
    * each bigram's logp per-term-rounds to an exact LONG (q199's ln
    * discipline), so the per-doc sum is aggregation-order free and
    * xent is one fixed expression over exact ints. Scale: counts are
    * two map-side-combined folds; the ≤V-row logp table BROADCASTS
    * into the bigram stream; per-doc collapse is one partial-agg
    * shuffle on doc_id. */
  def lmCrossEntropy(spark: SparkSession, dir: String,
      vocabSize: Int = 512): DataFrame = {
    val bgs = docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat_ws(' ', slice(t, i + 1, 2)))")).as("bg"))
    val cnt = bgs.groupBy("bg").agg(count(lit(1)).as("c12"))
    val pref = cnt
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = Analytics
      .topKPerGroup(bgs.withColumn("__g", lit(0)), "__g", "bg",
        vocabSize, shards = 32)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val vocabLp = pref.join(broadcast(vocab), "w1")
      .select(col("bg"),
        log(col("n").cast("double") / col("c1")).as("logp"))
    bgs.join(broadcast(vocabLp), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("logp").isNull, 1)).as("n_oov"),
        sum(round(col("logp") * 1e6).cast("long")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        when(col("n_bigrams") > col("n_oov"),
          -(col("slp").cast("double") / lit(1000000.0)
            / (col("n_bigrams") - col("n_oov")))).as("xent"))
      .orderBy("doc_id")
  }

  /** Cross-source nearest neighbor — the "is this document a copy of
    * another SOURCE's document" probe (cross-crawl/cross-dump
    * contamination, license-laundering detection). Sign-LSH buckets
    * (q29's machinery) keep it a bucket-equi-join — each vector meets
    * only its bucket's ~corpus/2^bits rows — with the cross-source
    * constraint pushed INTO the join condition, so same-source pairs
    * never materialize. Per doc: the top-1 different-source neighbor
    * by exact cosine (sharded rank, no single-reducer window). Probe
    * is single-bucket, so recall < 1 exactly as q27/q29 document;
    * scale path is the same bucketed/partitioned layout. */
  def crossSourceNeighbor(spark: SparkSession, dir: String): DataFrame = {
    val c = embs(spark, dir)
      .select(col("vec_id").as("id"),
        Similarity.toDouble(col("embedding")).as("v"))
      .join(docs(spark, dir).select(col("doc_id").as("id"), col("source")),
        "id")
      .withColumn("bucket", Similarity.signBucket(col("v"), 4))
      .withColumn("nv", sqrt(Similarity.dot(col("v"), col("v"))))
      .localCheckpoint() // both sides of the self-join read it
    val scored = c.alias("a")
      .join(c.alias("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id") &&
          col("a.source") =!= col("b.source"))
      .select(col("a.id").as("q_id"), col("a.source").as("source"),
        col("b.id").as("neighbor_id"),
        col("b.source").as("neighbor_source"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nv") * col("b.nv"))).as("_cos"))
    Similarity.keepTopPerQuery(scored, 1,
        Seq(col("_cos").desc, col("neighbor_id").asc))
      .select(col("q_id").as("doc_id"), col("source"),
        col("neighbor_id"), col("neighbor_source"),
        round(col("_cos"), 4).as("cosine"))
      .orderBy("doc_id")
  }

  /** Asymmetric containment pairs (excerpt/subset duplicates): doc A
    * flagged when ≥ 80% of its 2-gram shingles appear in doc B — the
    * quoted-paragraph / embedded-document case Jaccard misses (a
    * paragraph inside a 100× longer doc has resemblance ≈ 0.01 but
    * containment ≈ 1). Asymmetric prefix-filtered candidates, native
    * merge-overlap verification (see Dedup.containmentPairs). */
  def containmentDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(spark, dir), "doc_id", "text",
      shingleN = 2, threshold = 0.8)

  /** The corpus pipeline's QUALITY GATE, hash-checked: runs the real
    * `CorpusPipeline.annotate` pass (one tokenize, every kernel reads
    * the same token column) and emits each document's gate inputs plus
    * the keep/drop verdict under the default Recipe (lang=en,
    * minQuality=0.2, maxTopBigramFrac=0.6). Until now the gating was
    * spec-only; this puts the pipeline's own filter logic — language
    * ID, composite quality arithmetic, Gopher repetition ceiling, and
    * their conjunction — under the DuckDB oracle, so a drift in ANY
    * gate ingredient hash-mismatches. Scores are emitted RAW (the q19
    * doctrine): both are pure IEEE-double trees over exact ints, so
    * identical engines produce bit-identical doubles — whereas
    * `round(double, 4)` is engine-specific at decimal half-way
    * boundaries (Spark rounds the shortest decimal representation,
    * DuckDB the binary value; a boundary doc at sf0.1 flipped the
    * final digit and broke the hash). Verdicts use RAW values too. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusPipeline.annotate(docs(spark, dir))
      .select(col("doc_id"), col("lang_pred"),
        col("quality_score"), col("top_bigram_frac"),
        (col("lang_pred") === "en" &&
          col("quality_score") >= 0.2 &&
          col("top_bigram_frac") <= 0.6).as("keep"))
      .orderBy("doc_id")

  /** Lexical KNN — exact term-count cosine top-k, the SPARSE
    * complement to q26's dense embedding KNN (the other half of
    * hybrid retrieval). Counts are integers, so the pair dot product
    * is an EXACT integer sum (order-independent — no cross-engine
    * float-summation contract; the only doubles are one sqrt per doc
    * and one division per pair, computed identically by both
    * engines). Shape: per-doc term counts (one partial-agg shuffle),
    * query side broadcast — the corpus never shuffles for the join
    * and hot terms cannot skew it (each corpus row meets ≤ |queries|
    * partners). At real scale the corpus side would additionally
    * df-cap stopword terms (the q25/PPJoin prefix trade) — here the
    * exact join IS the oracle contract. */
  def lexicalKnn(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    Similarity.keepTopPerQuery(lexicalScores(spark, dir), k,
        Seq(col("_cos").desc, col("neighbor_id").asc))
      .select(col("q_id"), col("neighbor_id"),
        round(col("_cos"), 4).as("cosine"))
      .orderBy("q_id", "neighbor_id")

  /** (q_id, neighbor_id, _cos) term-count cosine scores — q80's body,
    * shared with the hybrid fusion (q81). */
  private def lexicalScores(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds query side, corpus side, and norms
    val norms = counts.groupBy("doc_id")
      .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("nrm"))
    val q = broadcast(
      counts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("term"), col("c").as("cq")))
    val qn = broadcast(norms.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("nrm").as("nq")))
    counts.filter(col("doc_id") >= 5)
      .select(col("doc_id").as("neighbor_id"), col("term"), col("c").as("cc"))
      .join(q, "term")
      .groupBy("q_id", "neighbor_id")
      .agg(sum(col("cq") * col("cc")).as("dot"))
      .join(qn, "q_id")
      .join(norms.select(col("doc_id").as("neighbor_id"),
        col("nrm").as("nc")), "neighbor_id")
      .withColumn("_cos", col("dot").cast("double") / (col("nq") * col("nc")))
  }

  /** HYBRID retrieval via reciprocal-rank fusion (Cormack et al.
    * SIGIR'09 — the standard zero-tuning fusion): the lexical
    * (term-count cosine, q80) and dense (embedding cosine, q26)
    * rankings fuse per candidate as Σ 1/(60 + rank), summed over the
    * systems that ranked it in their top-`n`. Ranks are small exact
    * integers and each reciprocal is one IEEE division, so the fused
    * score is bit-identical across engines — fusion needs NO tuned
    * weights and no score normalization, which is exactly why RRF is
    * the production default. Both rankings use the sharded top-n
    * pre-prune; the fusion join touches ≤ 2n rows per query. */
  def hybridRrf(spark: SparkSession, dir: String, n: Int = 50,
      k: Int = 5): DataFrame = {
    val fused = rankedTopN(lexicalScores(spark, dir), "rl", n)
      .join(rankedTopN(denseScores(spark, dir), "rd", n),
        Seq("q_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)))
    Similarity.keepTopPerQuery(fused, k,
        Seq(col("rrf").desc, col("neighbor_id").asc))
      .select(col("q_id"), col("neighbor_id"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "neighbor_id")
  }

  /** HARD-NEGATIVE mining for contrastive embedding training (the
    * DPR/SimCSE recipe): candidates the DENSE ranker puts in its
    * top-n that the LEXICAL ranker does NOT put in its top-m —
    * semantically close but lexically dissimilar, exactly the
    * negatives that teach an embedding model something (random
    * negatives are too easy; lexical matches are often positives).
    * Pure set algebra over the two rankings q81 already computes:
    * dense top-n anti-joined against lexical top-m per query. Ranks
    * are exact integers, so the oracle is a plain relational replay
    * — no score arithmetic at all. */
  def hardNegatives(spark: SparkSession, dir: String, nDense: Int = 20,
      mLex: Int = 10): DataFrame =
    rankedTopN(denseScores(spark, dir), "dense_rank", nDense)
      .join(rankedTopN(lexicalScores(spark, dir), "rl", mLex),
        Seq("q_id", "neighbor_id"), "left_anti")
      .orderBy("q_id", "dense_rank")

  /** K-MEANS cluster profile for corpus curation (the DCLM /
    * cluster-based-curation recipe: partition the embedding space,
    * then inspect each cluster's size, purity, and spread before
    * deciding what to keep, downsample, or route to review). Training
    * reuses the deterministic IVF Lloyd kernel; assignment is a
    * broadcast-literal map (no shuffle); the profile is one partial
    * aggregate over `(cluster, label)` plus a bounded window over
    * ≤ nlist×nlabels rows. Scale: the per-cluster stats shuffle
    * carries nlist×nlabels rows regardless of corpus size.
    *
    * Output per cluster: member count, the dominant `label` with its
    * share (ties → lowest label), and mean L2 distance to the
    * centroid. The oracle freezes the trained centroids as literals
    * and replays assignment + aggregation in DuckDB
    * (AnnOracles.kmeansProfileSql). */
  def clusterProfile(spark: SparkSession, dir: String,
      nlist: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embs(spark, dir)
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding", nlist, iters = 2)
    val assigned = Similarity.assignClusters(e, "vec_id", "embedding", cents)
      .join(e.select(col("vec_id").cast("long").as("id"), col("label")), "id")
    val perLabel = assigned.groupBy("cluster", "label")
      .agg(count(lit(1)).as("c"))
    val dominant = perLabel
      .withColumn("rn", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("c").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("dominant_label"), col("c"))
    // avg_dist must be partitioning-order-insensitive under the hash
    // check: round each dist to 1e-6 and sum as LONG (exact integer
    // arithmetic in any order), then one deterministic float division
    // — a distributed float avg() could flip the last rounded digit
    // between engines/partitionings
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        sum(round(col("dist") * lit(1e6)).cast("long")).as("sd"))
      .join(dominant, "cluster")
      .select(col("cluster"), col("n_vectors"), col("dominant_label"),
        (col("c").cast("double") / col("n_vectors")).as("label_share"),
        (col("sd").cast("double") / lit(1e6) / col("n_vectors"))
          .as("avg_dist"))
      .orderBy("cluster")
  }

  /** PII REDACTION, hash-checked (q87) — the last CorpusPipeline
    * stage to leave spec-only status. The synthetic corpus contains
    * zero PII-shaped strings (all four pattern families count 0 over
    * raw text), which would make a raw-text oracle vacuous — so the
    * query first APPENDS deterministic doc_id-derived PII spans (an
    * email every 3rd doc, an SSN-style id every 4th, an IPv4 every
    * 5th, a phone every 7th; docs divisible by several get multiple,
    * exercising the pass-order interactions the patterns document:
    * id-before-phone, ip-before-phone), built from the same integer
    * arithmetic + lpad on both engines, then runs the REAL
    * `TextAnalysis.withPiiRedacted` pass over the augmented text.
    * Emits the four per-type counts and the redacted text. What the
    * hash check pins: regex-dialect agreement between Spark's Java
    * regex and DuckDB's RE2 on every pattern (word boundaries,
    * non-capturing groups, greedy class runs), replace-ALL semantics,
    * and the four-stage chain order. Pure narrow per-row op — zero
    * shuffles at any corpus size. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    def part(cond: Column, pieces: Column*): Column =
      when(cond, concat(pieces: _*)).otherwise(lit(""))
    val aug = docs(spark, dir).select(col("doc_id"), concat(
        col("text"),
        part(col("doc_id") % 3 === 0,
          lit(" mail u"), idS, lit("@ex"),
          (col("doc_id") % 10).cast("string"), lit(".org")),
        part(col("doc_id") % 4 === 0,
          lit(" ssn "), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")),
        part(col("doc_id") % 5 === 0,
          lit(" host 10."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"), lit(".1")),
        part(col("doc_id") % 7 === 0,
          lit(" call +1 (555) 01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit("-"),
          lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0"))
      ).as("aug_text"))
    TextAnalysis.withPiiRedacted(aug, "aug_text")
      .select(col("doc_id"), col("n_emails"), col("n_ids"), col("n_ips"),
        col("n_phones"), col("text_redacted"))
      .orderBy("doc_id")
  }

  /** UNICODE NFC NORMALIZATION under the oracle (q87's technique for
    * exercising a path the synthetic corpus can't): the corpus is
    * ASCII — already NFC — so DECOMPOSED sequences are injected
    * identically on both engines (every 'e' becomes e + U+0301
    * COMBINING ACUTE), then the real kernel
    * ([[graft.functions.NfcNormalize]], the JDK's UAX #15
    * implementation) must compose them back byte-for-byte equal to
    * DuckDB's `nfc_normalize`. Output carries the full normalized
    * text plus codepoint counts before/after — composition provably
    * happened (every injected pair shrank to one precomposed é).
    * Canonicalization like this belongs BEFORE any equality-based
    * operator (exact dedup / shingles / vocab): mixed-form text
    * hashes apart and silently splits duplicate groups. Pure narrow,
    * zero shuffles. */
  def nfcNormalizeDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcNormalize.nfcNormalize
    val injected = replace(col("text"), lit("e"), lit("e\u0301"))
    docs(spark, dir)
      .select(col("doc_id"), injected.as("_inj"))
      .withColumn("text_nfc", nfcNormalize(col("_inj")))
      .select(col("doc_id"),
        length(col("_inj")).as("n_injected"),
        length(col("text_nfc")).as("n_nfc"),
        col("text_nfc"))
      .orderBy("doc_id")
  }

  /** BM25 RETRIEVAL from a PERSISTED inverted index
    * ([[graft.text.LexicalIndex]]) — the sparse sibling of the
    * persisted ANN indexes (q69/q70): build commits bucket-partitioned
    * postings (doc length denormalized onto the posting row) + an
    * additive stats row as versioned tables; the query plans ONLY the
    * query terms' bucket partitions, folds df from the pruned posting
    * lists, and ranks with q60's exact Okapi arithmetic. The
    * cross-term score sum is order-insensitive (per-term 1e-6 round →
    * exact LONG sum), which is what lets the DuckDB oracle replay a
    * distributed float scoring pipeline hash-exactly. Same query/corpus
    * split as q80 (queries = doc_id < 5 against the rest). */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // per-run temp root — same isolation rationale as annIvfIndexed
    val root = java.nio.file.Files
      .createTempDirectory("graft_lex_index_").toString
    graft.text.LexicalIndex.build(spark,
      d.filter(col("doc_id") >= 5), "doc_id", "text", root)
    graft.text.LexicalIndex.query(spark, root,
      d.filter(col("doc_id") < 5), "doc_id", "text", k = 3)
  }

  /** q88's retrieval AFTER a row-level index DELETE — hash-checks the
    * sparse index's whole tombstone path: DV masks on the pruned
    * postings scan (deleted docs' postings stop existing), df
    * re-folding over the survivors, and the NEGATIVE stats row
    * netting N/avg_len. Victims are deterministic (corpus doc_id ≡ 7
    * mod 10); the oracle simply scores the restricted corpus — if any
    * piece of the delete machinery leaked a ghost posting or a stale
    * count into scoring, the hash mismatches. */
  def bm25IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_lex_del_").toString
    graft.text.LexicalIndex.build(spark,
      d.filter(col("doc_id") >= 5), "doc_id", "text", root)
    graft.text.LexicalIndex.delete(spark, root,
      d.filter(col("doc_id") >= 5 && col("doc_id") % 10 === 7)
        .select("doc_id"))
    graft.text.LexicalIndex.query(spark, root,
      d.filter(col("doc_id") < 5), "doc_id", "text", k = 3)
  }

  /** INTRA-corpus repeated-n-gram coverage per document — the
    * doc-level duplication signal of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" (ACL'22): how much
    * of each document's content recurs elsewhere in the corpus.
    * Cross-doc only (distinct grams per doc, then corpus document
    * frequency) — q53 already covers WITHIN-doc repetition. The
    * q45 decontam check aimed at an external benchmark; this is the
    * same 8-gram machinery aimed at the corpus itself, which is what
    * surfaces boilerplate (headers, licenses, templates) that exact
    * and near dedup both miss when the surrounding text differs.
    * Shape: explode → distinct (doc, gram) partial-agg → one gram-df
    * aggregate → join back → per-doc counts; every shuffle carries
    * hashed-width rows and the final division is ONE exact-integer
    * ratio (order-insensitive under the hash check). */
  def repeatedNgrams(spark: SparkSession, dir: String, n: Int = 8,
      minDf: Int = 2): DataFrame = {
    val g = docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), " +
          s"i -> concat_ws(' ', slice(t, i + 1, $n)))")).as("g"))
      .distinct()
      // feeds the df aggregate AND the per-doc fold — gram once, not twice
      .localCheckpoint()
    val dfs = g.groupBy("g").agg(count(lit(1)).as("gdf"))
    g.join(dfs, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= minDf, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams"))
          .as("shared_frac"))
      .orderBy("doc_id")
  }

  /** MMR-DIVERSIFIED retrieval (Carbonell & Goldstein, SIGIR'98):
    * greedy maximal-marginal-relevance re-rank of the dense top-n —
    * pick the most relevant candidate, then repeatedly the one
    * maximizing λ·rel − (1−λ)·max-sim-to-already-picked. The standard
    * fix for near-duplicate result lists (retrieval-augmented data
    * curation pulls k DISTINCT exemplars, not k copies); exactly the
    * redundancy q29's near-dup detection measures, spent at query
    * time. Scale: everything after the q26-shaped scoring pass is
    * per-query bounded — candidate sets are n rows, pairwise sims
    * n(n−1) rows, and each greedy round is a window over ≤ n rows
    * per query; the corpus is touched once. The greedy loop is k−1
    * Spark rounds here and an UNROLLED chain of CTEs in the oracle
    * (k is a small constant — that is what makes greedy selection
    * SQL-expressible at all). λ = 0.7; μ = 0.3 passed explicitly,
    * NOT computed as 1−λ (whose floating value 0.30000000000000004
    * would diverge from the SQL literal 0.3). */
  def mmrDiversify(spark: SparkSession, dir: String, n: Int = 10,
      k: Int = 3, lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = Similarity.keepTopPerQuery(denseScores(spark, dir), n,
        Seq(col("_cos").desc, col("neighbor_id").asc))
      .select(col("q_id"), col("neighbor_id"), col("_cos"),
        col("v"), col("nv"))
      .localCheckpoint() // ≤ n rows/query; feeds sims and every round
    val a = cands.select(col("q_id"), col("neighbor_id").as("i"),
      col("v").as("vi"), col("nv").as("ni"))
    val b = cands.select(col("q_id"), col("neighbor_id").as("j"),
      col("v").as("vj"), col("nv").as("nj"))
    val sims = a.join(b, "q_id")
      .filter(col("i") =!= col("j"))
      .select(col("q_id"), col("i"), col("j"),
        (Similarity.dot(col("vi"), col("vj")) / (col("ni") * col("nj")))
          .as("sim"))
      .localCheckpoint() // ≤ n(n−1) rows/query
    val wq = Window.partitionBy(col("q_id"))
    def pick(df: DataFrame, score: Column, rank: Int): DataFrame =
      df.withColumn("_rn", row_number().over(
          wq.orderBy(score.desc, col("neighbor_id").asc)))
        .filter(col("_rn") === 1)
        .select(col("q_id"), col("neighbor_id"), col("_cos"),
          lit(rank).as("mmr_rank"))
    var all = pick(cands, col("_cos"), 1)
    var remaining = cands.join(all.select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id"), "left_anti")
    for (r <- 2 to k) {
      val selJ = all.select(col("q_id"), col("neighbor_id").as("j"))
      val roundScores = remaining
        .select(col("q_id"), col("neighbor_id"), col("_cos"))
        .join(sims.withColumnRenamed("i", "neighbor_id"),
          Seq("q_id", "neighbor_id"))
        .join(selJ, Seq("q_id", "j"))
        .groupBy(col("q_id"), col("neighbor_id"), col("_cos"))
        .agg(max(col("sim")).as("maxsim"))
      val picked = pick(roundScores,
        lit(lambda) * col("_cos") - lit(mu) * col("maxsim"), r)
        // ≤1 row/query, but its plan references all PRIOR rounds
        // several times (all + the remaining anti-join chain) —
        // checkpoint so round r+1 reads rows, not a 4^r plan
        .localCheckpoint()
      all = all.unionByName(picked)
      remaining = remaining.join(picked.select("q_id", "neighbor_id"),
        Seq("q_id", "neighbor_id"), "left_anti")
    }
    all.select(col("q_id"), col("mmr_rank"), col("neighbor_id"),
        round(col("_cos"), 4).as("cosine"))
      .orderBy("q_id", "mmr_rank")
  }

  /** Per-source DATA CARD (q92) — the "datasheet" summary a data team
    * publishes per corpus source (Gebru et al., Datasheets for
    * Datasets): doc and token volume, mean composite quality,
    * predicted-English share, and exact-duplicate count, one row per
    * source. Pure composition of already-oracled signals (q19
    * quality, q20 lang-ID, q21 fingerprint) through ONE annotate pass
    * (tokenize once) + one fingerprint-df join + one grouped fold.
    * The only cross-row float is mean quality, handled the q86 way
    * (per-row 1e-6 round → exact LONG sum → one division); every
    * other metric is an exact integer. Scale: the report shuffle
    * carries one row per source; the fp-df join shuffles 8-byte keys,
    * never text. */
  def sourceDataCard(spark: SparkSession, dir: String): DataFrame = {
    val ann = graft.pipeline.CorpusPipeline.annotate(docs(spark, dir))
      .withColumn("_fp", TextAnalysis.fingerprint64(col("text")))
    val fpc = ann.groupBy("_fp").agg(count(lit(1)).as("_c"))
    ann.join(fpc, "_fp")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(round(col("quality_score") * lit(1e6)).cast("long")).as("_sq"),
        sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("_en"),
        sum(when(col("_c") >= 2, 1L).otherwise(0L)).as("dup_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("_sq").cast("double") / lit(1e6) / col("n_docs"))
          .as("mean_quality"),
        (col("_en").cast("double") / col("n_docs")).as("en_frac"),
        col("dup_docs"))
      .orderBy("source")
  }

  /** SEMANTIC DEDUP (q93) — SemDeDup (Abbas et al., arXiv:2303.09540):
    * k-means-cluster the embedding space, then look for duplicate
    * pairs ONLY inside a cluster — the trick that turns O(n²) pairwise
    * semantic dedup into Σ_c O(n_c²), the published recipe for
    * LAION/web-scale corpora. A pair with cosine ≥ τ is a semantic
    * duplicate; the member KEPT is the one FARTHEST from its cluster
    * centroid (the paper's low-centroid-similarity rule — it preserves
    * the diverse rim of the cluster and drops the prototypical core),
    * ties to the lower id. Dropping is an EXISTS, not connected
    * components: x is dropped iff some keep-worthier y (farther, or
    * equal-far with lower id) in its cluster matches it — a left-semi
    * join, no iteration (q36 is the CC formulation of near-dup when
    * transitive grouping itself is the answer).
    *
    * Emits (vec_id, cluster, kept). The oracle freezes the trained
    * centroids and replays assignment + the pairwise rule in DuckDB
    * ([[AnnOracles.semDedupSql]] — params must mirror this call).
    *
    * Scale: assignment is a broadcast-literal map (no shuffle); the
    * pair join shuffles by cluster id. At 100 TB you pick nlist ≈
    * √n (the paper uses 50k–100k clusters) so n_c stays ~10³–10⁴ and
    * no cluster's pair block exceeds one task; AQE skew-join splits
    * any cluster the quantizer overloads. Determinism: per-vector
    * dist/cos are single-expression doubles (bit-identical on both
    * engines), so the τ and farther-than comparisons cannot flip. */
  def semDedup(spark: SparkSession, dir: String, nlist: Int = 8,
      tau: Double = 0.4): DataFrame = {
    val e = embs(spark, dir)
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding", nlist,
      iters = 2)
    val a = Similarity.assignClusters(e, "vec_id", "embedding", cents)
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .localCheckpoint() // both sides of the pair join + the output
    val x = a.select(col("id").as("xid"), col("v").as("xv"),
      col("cluster"), col("dist").as("xd"), col("nrm").as("xn"))
    val y = a.select(col("id").as("yid"), col("v").as("yv"),
      col("cluster"), col("dist").as("yd"), col("nrm").as("yn"))
    val dropped = x.join(y,
      x("cluster") === y("cluster") &&
        (col("yd") > col("xd") ||
          (col("yd") === col("xd") && col("yid") < col("xid"))) &&
        Similarity.dot(col("xv"), col("yv")) / (col("xn") * col("yn"))
          >= tau,
      "left_semi")
      .select(col("xid").as("id"), lit(false).as("kept"))
    a.join(dropped, Seq("id"), "left_outer")
      .select(col("id").as("vec_id"), col("cluster"),
        coalesce(col("kept"), lit(true)).as("kept"))
      .orderBy("vec_id")
  }

  /** PER-SOURCE QUALITY QUARTILE GATE (q94) — "keep each source's top
    * quality quartile": the rank-based form of quality filtering
    * (CCNet's per-shard perplexity quartiles, Wenzek et al. 2020).
    * Rank-based gating needs NO tuned threshold and is immune to
    * cross-source score-scale drift; being rank- (not score-)
    * comparing, it is also hash-check-safe — the only doubles that
    * cross the engine boundary are the per-row quality scores q19
    * already pins.
    *
    * Scale shape: a naive `ntile(4) OVER (PARTITION BY source ORDER BY
    * score)` sorts a whole source in ONE reducer. Instead the exact
    * per-source rank is assembled the q40 way — an order-preserving
    * histogram bucket of the sort key (floor(score·64), descending)
    * fans each source across reducers; within-bucket row_numbers
    * shuffle on (source, bucket), and the global rank adds the
    * broadcast per-bucket offsets (the only per-source-ordered window
    * runs over the ≤64-row bucket AGGREGATE). The quartile is then
    * replayed arithmetically from (rank, n) with ntile's exact fill
    * rule — first n%4 buckets hold ⌈n/4⌉ — so the DuckDB oracle can be
    * the plain `ntile(4)` window: the hash check proves the
    * distributed formulation IS ntile. */
  def qualityQuartileGate(spark: SparkSession, dir: String,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.withQualityColumns(docs(spark, dir), "text")
      .select(col("doc_id"), col("source"), col("quality_score"))
      .withColumn("__bucket",
        least(floor(col("quality_score") * buckets), lit(buckets - 1))
          .cast("int"))
    val wIn = Window.partitionBy("source", "__bucket")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val local = scored.withColumn("__rk_in",
      row_number().over(wIn).cast("long"))
    val wOff = Window.partitionBy("source").orderBy(col("__bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored.groupBy("source", "__bucket")
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__offset", coalesce(sum("__bn").over(wOff), lit(0L)))
      .select("source", "__bucket", "__offset")
    val totals = scored.groupBy("source").agg(count(lit(1)).as("__n"))
    local.join(broadcast(offsets), Seq("source", "__bucket"))
      .join(broadcast(totals), Seq("source"))
      .withColumn("__rank", col("__offset") + col("__rk_in"))
      .withColumn("__q", expr("__n div 4"))
      .withColumn("__r", col("__n") % 4)
      // CASE keeps the ELSE division un-evaluated when __q = 0 (n < 4:
      // the first branch then covers every rank)
      .withColumn("quartile", expr(
        """CAST(CASE WHEN __rank <= (__q + 1) * __r
               THEN (__rank - 1) div (__q + 1) + 1
               ELSE __r + (__rank - (__q + 1) * __r - 1) div __q + 1
             END AS INT)"""))
      .select(col("doc_id"), col("source"), col("quartile"),
        (col("quartile") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** TEMPERATURE MIXTURE WEIGHTS (q95) — the sampling-recipe
    * computation behind multilingual/multi-source pretraining mixes
    * (Devlin et al. 2019 exponentiated-share sampling; α = 0.5 here,
    * i.e. √-temperature): per source, p_i = √n_i / Σ_j √n_j flattens
    * the raw token-share distribution toward low-resource sources;
    * `boost` (= p_i / share_i) is the per-source up/down-sampling
    * factor a mixer (q43/q55) consumes. α = 0.5 is deliberate: √ is a
    * correctly-rounded IEEE op on an exact integer, so every per-source
    * weight is bit-identical cross-engine — a libm `pow(x, 0.3)` is
    * not. The one cross-row float (Σ_j √n_j) is made order-DEFINED,
    * not order-insensitive: both engines fold the per-source weights
    * as a LEFT fold in source order (Spark `aggregate(array_sort(...))`,
    * DuckDB `list_reduce(list(... ORDER BY source))`), producing the
    * identical double. Scale: one partial-agg shuffle of nSources
    * rows; the fold runs over the nSources-row aggregate. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val per = docs(spark, dir)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
      .withColumn("w", sqrt(col("n_tokens").cast("double")))
    val tot = per.agg(
      sum(col("n_tokens")).as("tt"),
      aggregate(
        array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")).as("wsum"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tt")).as("share"),
        (col("w") / col("wsum")).as("temp_weight"),
        (col("w") / col("wsum") /
          (col("n_tokens").cast("double") / col("tt"))).as("boost"))
      .orderBy("source")
  }

  /** SQ8 scalar-quantized ANN top-3 (q96) for the q26 query set —
    * see [[Similarity.sqTopK]]. Unlike the trained-model ANN family
    * (q30/q57/q58), the "model" (per-dim [min,max]) is a plain
    * aggregate, so the oracle is STATIC SQL that re-derives bounds,
    * codes, integer-dot shortlist, and exact re-rank from the raw
    * table — no frozen literals. */
  def annSq(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.sqTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3)
  }

  /** BINARY-QUANTIZED ANN top-3 (q251) for the q26 query set — see
    * [[Similarity.binaryTopK]]: 1-bit sign codes, integer
    * Hamming-agreement shortlist, exact-cosine re-rank. The
    * 32×-compression end of the quantization ladder (SQ8 q96 is 4×,
    * PQ q69/q70 inbetween); sign codes need NO training pass at all,
    * so the oracle is fully static SQL like q96's. */
  def annBinary(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.binaryTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3)
  }

  /** FLESCH–KINCAID READABILITY (q252) — the classic grade-level
    * formula (Kincaid et al. 1975) as a per-document quality feature:
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
    * sentences = runs of [.!?] and syllables = runs of [aeiouy] in
    * the lowercased text (the standard vowel-group heuristic; both
    * counts floored at 1 so empty/unpunctuated docs stay finite).
    * Readability sits in every pretraining quality stack next to the
    * q19 ratio score — too-low grades flag fragment soup, too-high
    * flag run-on boilerplate. Determinism: all three counts are exact
    * integers (regex run counting), and the grade is one fixed-order
    * chain of IEEE ops on their ratios, identical cross-engine;
    * rounded to 4dp for the hash. Scale: a pure per-row map (two
    * regex passes inside codegen), no shuffle at all — the orderBy is
    * presentation. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val lowered = lower(col("text"))
    val words = greatest(size(split(lowered, " ")).cast("long"), lit(1L))
    val sentences = greatest(
      regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
    val syllables = greatest(
      regexp_count(lowered, lit("[aeiouy]+")).cast("long"), lit(1L))
    d.select(col("doc_id"), words.as("words"),
        sentences.as("sentences"), syllables.as("syllables"),
        round(lit(0.39) * (words.cast("double") / sentences) +
          lit(11.8) * (syllables.cast("double") / words) - lit(15.59), 4)
          .as("fk_grade"))
      .orderBy("doc_id")
  }

  /** SFT CHAT-TEMPLATE SPANS (q258) — the loss-mask arithmetic every
    * supervised-fine-tuning pipeline runs: documents become
    * alternating user/assistant pseudo-turns (10-word windows — the
    * corpus has no sentence punctuation; a real SFT feed brings its
    * own turn column), each turn renders through a fixed template
    * (`<|role|>content<|end|>`), and the output is the EXACT
    * character span [start, end) of every ASSISTANT turn's content
    * inside the rendered string — the offsets a trainer masks loss
    * to. Everything is integer string arithmetic: per-turn lengths,
    * a running-prefix window sum per document, plus the role-tag
    * offset; a template change, an off-by-one in the prefix, or a
    * dropped empty trailing sentence all hash-mismatch. Scale: one
    * posexplode + one per-doc window (partition-local, no global
    * sort); the rendered string itself is never materialized — spans
    * derive from lengths alone, which is the point at 100 TB (mask
    * offsets without rewriting the corpus). */
  def chatTemplateSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val userTag = 8L // "<|user|>"
    val asstTag = 13L // "<|assistant|>"
    val endTag = 7L // "<|end|>"
    // pseudo-turns: every 10 words (the corpus has no sentence
    // punctuation); alternating roles
    val words = split(col("text"), " ")
    val nTurns = floor((size(words) - 1) / 10).cast("int") + 1
    val turnArr = transform(sequence(lit(0), nTurns - 1),
      i => array_join(slice(words, i * 10 + 1, lit(10)), " "))
    val turns = docs(spark, dir)
      .select(col("doc_id"), posexplode(turnArr).as(Seq("pos", "sent")))
    val turnLen = when(col("pos") % 2 === 0, lit(userTag))
      .otherwise(lit(asstTag)) + length(col("sent")) + lit(endTag)
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .withColumn("_prefix", coalesce(sum(turnLen).over(w), lit(0L)))
      .filter(col("pos") % 2 === 1) // assistant turns carry the loss
      .select(col("doc_id"), col("pos").cast("long").as("turn_idx"),
        (col("_prefix") + lit(asstTag)).as("span_start"),
        (col("_prefix") + lit(asstTag) + length(col("sent")))
          .as("span_end"),
        length(col("sent")).cast("long").as("turn_chars"))
      .orderBy("doc_id", "turn_idx")
  }

  /** DETERMINISTIC EPOCH SHUFFLE (q97) — the global training-order
    * permutation: every epoch E assigns each document the position of
    * md5("ep<E>:doc_id") in sorted order. The permutation is a pure
    * function of (epoch, doc_id): stable under re-runs, appends of
    * OTHER docs (relative order of existing pairs never changes),
    * partitioning, and cluster size — "shuffle the dataset" without a
    * seed file or a rand() that re-rolls per read. Different epochs →
    * independent permutations (the salt changes every hash).
    *
    * Scale: a bare `row_number() OVER (ORDER BY hash)` is ONE reducer
    * sorting the corpus. Like q40/q94, the first two hex chars of the
    * SAME md5 form an order-preserving 256-way bucket: within-bucket
    * row_numbers shuffle across 256 reducers, and the global position
    * adds broadcast per-bucket offsets (the only globally-ordered
    * window runs over the 256-row bucket aggregate). At a real 100 TB
    * run you'd widen to 4 hex chars (65536 buckets); the reassembly is
    * identical. */
  def epochShuffle(spark: SparkSession, dir: String,
      epoch: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .withColumn("__ord", md5(concat(lit(s"ep$epoch:"),
        col("doc_id").cast("string"))))
      .withColumn("__bucket",
        conv(substring(col("__ord"), 1, 2), 16, 10).cast("int"))
    val wIn = Window.partitionBy("__bucket")
      .orderBy(col("__ord"), col("doc_id"))
    val wOff = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("__bucket").agg(count(lit(1)).as("__bn"))
      .withColumn("__offset", coalesce(sum("__bn").over(wOff), lit(0L)))
      .select("__bucket", "__offset")
    d.withColumn("__rk", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), Seq("__bucket"))
      .select(col("doc_id"), col("source"),
        (col("__offset") + col("__rk")).as("shuffle_pos"))
      .orderBy("doc_id")
  }

  /** One BPE merge round over the per-word symbol state
    * `(word, freq, pos, sym)`: count corpus-weighted adjacent pairs,
    * pick the best `(count desc, pair asc)`, apply it LEFTMOST
    * NON-OVERLAPPING (the real BPE rule — in "aaa" with merge (a,a)
    * only the first pair merges), reindex positions. Overlap only
    * happens for a==b merges, where candidates form runs of
    * consecutive positions; the gaps-and-islands rank keeps the 1st,
    * 3rd, … of each run — exactly greedy-leftmost. All windows
    * partition by WORD (bounded by word length); the only global
    * shuffle is the vocabulary-sized pair count. */
  private[graft] def bpeRound(state0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the round references its input FOUR times (pair counts, start
    // selection, both flag joins); checkpoint at entry so a chained
    // round re-reads the prior round's ROWS instead of re-executing
    // its plan per reference (two nested unchecked rounds measured 96
    // exchanges in the final plan)
    val state = state0.localCheckpoint()
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val withNext = state.withColumn("_next", lead(col("sym"), 1).over(wOrd))
    val best = withNext.filter(col("_next").isNotNull)
      .groupBy(col("sym").as("a"), col("_next").as("b"))
      .agg(sum(col("freq")).as("_cnt"))
      .orderBy(col("_cnt").desc, col("a").asc, col("b").asc)
      .limit(1).drop("_cnt")
    val starts = withNext.crossJoin(broadcast(best))
      .filter(col("sym") === col("a") && col("_next") === col("b"))
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_island", col("pos") - col("_rn"))
      .withColumn("_k", row_number().over(
        Window.partitionBy("word", "_island").orderBy("pos")))
      .filter(col("_k") % 2 === 1)
      .select(col("word"), col("pos"))
    val flagged = state
      .join(starts.withColumn("_isStart", lit(true)), Seq("word", "pos"),
        "left")
      .join(starts.select(col("word"), (col("pos") + 1).as("pos"))
        .withColumn("_isCons", lit(true)), Seq("word", "pos"), "left")
    // LEFT join on a constant key, not a crossJoin: a degenerate state
    // with no adjacent pair anywhere (all single-symbol words) makes
    // `best` EMPTY, and a crossJoin would annihilate every row — the
    // no-candidate round must be a no-op instead (a/b come back null,
    // starts is empty, so every row passes through unmerged).
    flagged.withColumn("_one", lit(1))
      .join(broadcast(best.withColumn("_one", lit(1))), Seq("_one"), "left")
      .filter(col("_isCons").isNull)
      .select(col("word"), col("freq"),
        (row_number().over(wOrd) - 1).as("pos"),
        when(col("_isStart").isNotNull, concat(col("a"), col("b")))
          .otherwise(col("sym")).as("sym"))
  }

  /** BPE MERGE APPLICATION (q152) — the other half of subword
    * learning (q99 counts merge candidates; this EXECUTES the
    * trainer loop): two corpus-weighted merge rounds applied to the
    * character-level vocabulary state with the real greedy
    * leftmost-non-overlapping rule, then the resulting segmentation
    * of the 20 most frequent words. Everything is relational —
    * per-word windows (bounded by word length) plus one
    * vocabulary-sized pair-count shuffle per round — so at corpus
    * scale each round costs one pass over the VOCABULARY, never the
    * corpus (words deduplicate into (word, freq) first; the corpus
    * is touched once, to count). The oracle replays both rounds as
    * chained CTEs: a wrong tie-break, an overlap mishandled, or a
    * reindex bug shifts a segmentation and hash-mismatches. */
  def bpeApply(spark: SparkSession, dir: String,
      topWords: Int = 20): DataFrame = {
    val vocab = docs(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val state0 = vocab.select(col("word"), col("freq"),
      posexplode(split(col("word"), "")).as(Seq("pos", "sym")))
    val state2 = bpeRound(bpeRound(state0))
    val top = vocab
      .orderBy(col("freq").desc, col("word").asc).limit(topWords)
      .select("word")
    state2.join(broadcast(top), Seq("word"))
      .groupBy("word")
      .agg(max(col("freq")).as("freq"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sym")))),
          _.getField("sym"))).as("seg"))
      .orderBy("word")
  }

  /** TOP PRINCIPAL COMPONENT by POWER ITERATION (q151) — the
    * distributed linear-algebra primitive behind embedding-drift
    * monitoring and whitening decisions: three unrolled Rayleigh
    * iterations `v ← C·v / ‖C·v‖` over the centered embedding table,
    * entirely relational (no driver-side vectors — the d-row v frame
    * BROADCASTS into each pass; each iteration is one narrow join +
    * one partial-agg shuffle carrying d rows, so the corpus streams
    * through map tasks once per iteration at any scale).
    *
    * Float contract: every cross-row/cross-dim sum is a per-term
    * 1e-6-round → exact LONG (the per-row projection s = (x−μ)·v,
    * the per-dim accumulation w = Σ s·(x−μ), the norm²), and each
    * next iterate derives from those integers by one fixed expression
    * tree — so the STATIC SQL oracle replays all three iterations as
    * chained CTEs with nothing frozen. Init v₀ = 1/8 per dim (unit
    * for d=64, exactly representable). Sign is pinned by the init. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val ex = embs(spark, dir)
      .select(col("vec_id"),
        posexplode(Similarity.toDouble(col("embedding"))).as(Seq("dim", "x")))
      .localCheckpoint() // feeds the mean and all three iterations
    val mu = ex.groupBy("dim")
      .agg(sum(round(col("x") * 1e6).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("dim"), (col("sx").cast("double") / 1e6 / col("n"))
        .as("mu"))
    val cx = ex.join(broadcast(mu), Seq("dim"))
      .select(col("vec_id"), col("dim"), (col("x") - col("mu")).as("cx"))
      .localCheckpoint()
    def iterate(v: DataFrame): DataFrame = {
      val s = cx.join(broadcast(v), Seq("dim"))
        .groupBy("vec_id")
        .agg(sum(round(col("cx") * col("vv") * 1e6).cast("long")).as("ss"))
        .select(col("vec_id"), (col("ss").cast("double") / 1e6).as("s"))
      val w = cx.join(s, Seq("vec_id"))
        .groupBy("dim")
        .agg(sum(round(col("s") * col("cx") * 1e6).cast("long")).as("ws"))
        .select(col("dim"), (col("ws").cast("double") / 1e6).as("w"))
      val norm = w.agg(sum(round(col("w") * col("w") * 1e6).cast("long"))
          .as("n2"))
        .select(sqrt(col("n2").cast("double") / 1e6).as("norm"))
      w.crossJoin(broadcast(norm))
        .select(col("dim"), (col("w") / col("norm")).as("vv"))
    }
    val v0 = mu.select(col("dim"), lit(0.125).as("vv"))
    val v3 = iterate(iterate(iterate(v0)))
    v3.select(col("dim"), col("vv").as("loading")).orderBy("dim")
  }

  /** EMBEDDING ANISOTROPY report (q153) — the one-row health metric
    * that says whether the embedding space has collapsed onto a
    * dominant direction (the anisotropy problem of contextual
    * encoders): λ₁/trace(C), with λ₁ the Rayleigh quotient of q151's
    * power-iterated component and trace(C) the total variance. A
    * ratio near 1/d means isotropic; near 1 means collapsed — the
    * number that decides whether whitening is worth running. Same
    * float discipline and plan shape as q151 (one more projection
    * pass + a d-row trace fold); the static oracle extends q151's
    * CTE chain. */
  def embeddingAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val ex = embs(spark, dir)
      .select(col("vec_id"),
        posexplode(Similarity.toDouble(col("embedding"))).as(Seq("dim", "x")))
      .localCheckpoint()
    val mu = ex.groupBy("dim")
      .agg(sum(round(col("x") * 1e6).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("dim"), (col("sx").cast("double") / 1e6 / col("n"))
        .as("mu"))
    val cx = ex.join(broadcast(mu), Seq("dim"))
      .select(col("vec_id"), col("dim"), (col("x") - col("mu")).as("cx"))
      .localCheckpoint()
    def iterate(v: DataFrame): DataFrame = {
      val s = cx.join(broadcast(v), Seq("dim"))
        .groupBy("vec_id")
        .agg(sum(round(col("cx") * col("vv") * 1e6).cast("long")).as("ss"))
        .select(col("vec_id"), (col("ss").cast("double") / 1e6).as("s"))
      val w = cx.join(s, Seq("vec_id"))
        .groupBy("dim")
        .agg(sum(round(col("s") * col("cx") * 1e6).cast("long")).as("ws"))
        .select(col("dim"), (col("ws").cast("double") / 1e6).as("w"))
      val norm = w.agg(sum(round(col("w") * col("w") * 1e6).cast("long"))
          .as("n2"))
        .select(sqrt(col("n2").cast("double") / 1e6).as("norm"))
      w.crossJoin(broadcast(norm))
        .select(col("dim"), (col("w") / col("norm")).as("vv"))
    }
    val v0 = mu.select(col("dim"), lit(0.125).as("vv"))
    val v3 = iterate(iterate(iterate(v0)))
    val nRows = embs(spark, dir).agg(count(lit(1)).as("n"))
    val proj = cx.join(broadcast(v3), Seq("dim"))
      .groupBy("vec_id")
      .agg(sum(round(col("cx") * col("vv") * 1e6).cast("long")).as("ss"))
      .select((col("ss").cast("double") / 1e6).as("s"))
    val lambda1 = proj
      .agg(sum(round(col("s") * col("s") * 1e6).cast("long")).as("l2"))
      .select((col("l2").cast("double") / 1e6).as("lsum"))
    val trace = cx
      .agg(sum(round(col("cx") * col("cx") * 1e6).cast("long")).as("t2"))
      .select((col("t2").cast("double") / 1e6).as("tsum"))
    nRows.crossJoin(lambda1).crossJoin(trace)
      .select(col("n"),
        (col("tsum") / col("n")).as("total_var"),
        (col("lsum") / col("n")).as("lambda1"),
        (col("lsum") / col("tsum")).as("anisotropy"))
  }

  /** PER-LABEL SPLIT CENSUS (q154) — the stratification audit before
    * training on labeled data: q44's deterministic hash split applied
    * to the embedding table, rolled up per (label, split). A skewed
    * census here means a class is under-represented in val/test — the
    * check that catches it BEFORE a misleading eval. Pure narrow map
    * + one tiny grouped fold; membership is a pure function of
    * vec_id, so the census is identical on every run and cluster. */
  def labelSplitCensus(spark: SparkSession, dir: String): DataFrame = {
    val u = hashUniform("split", col("vec_id"))
    embs(spark, dir)
      .select(col("label"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
          .as("split"))
      .groupBy("label", "split").agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "split")
  }

  /** QUANTILE NORMALIZATION of quality scores across sources (q141) —
    * the batch-effect correction curation needs before any
    * cross-source score threshold: each source's score distribution
    * maps onto the GLOBAL distribution (doc with per-source rank r of
    * n_s gets the global value at index ceil(r·N/n_s)), so "top X%"
    * means the same thing in every source even when one source's
    * scorer runs hot. Ranks come from q94's two-pass score-bucket
    * machinery — per-bucket windows plus broadcast bucket offsets, no
    * single-reducer global or per-source sort — and the index lookup
    * is an integer equi-join against the globally-ranked frame. All
    * arithmetic is exact integers; the normalized value is a COPIED
    * raw double, never computed. The oracle replays the naive global
    * + per-source windows. */
  def quantileNormalize(spark: SparkSession, dir: String,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.withQualityColumns(docs(spark, dir), "text")
      .select(col("doc_id"), col("source"), col("quality_score").as("score"))
      .withColumn("__b",
        least(floor(col("score") * buckets), lit(buckets - 1)).cast("int"))
      .localCheckpoint() // feeds the global rank, source rank, and totals
    val n = scored.count()
    // global ascending rank: per-bucket window + broadcast offsets
    val wInG = Window.partitionBy("__b")
      .orderBy(col("score").asc, col("doc_id").asc)
    val wOffG = Window.orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offG = scored.groupBy("__b").agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum("__bn").over(wOffG), lit(0L)))
      .select("__b", "__off")
    val ranked = scored
      .withColumn("__rkIn", row_number().over(wInG).cast("long"))
      .join(broadcast(offG), Seq("__b"))
    val globalVals = ranked
      .select(col("score").as("norm_score"),
        (col("__off") + col("__rkIn")).as("__grk"))
    // per-source ascending rank, same shape
    val wInS = Window.partitionBy("source", "__b")
      .orderBy(col("score").asc, col("doc_id").asc)
    val wOffS = Window.partitionBy("source").orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offS = scored.groupBy("source", "__b").agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum("__bn").over(wOffS), lit(0L)))
      .select("source", "__b", "__off")
    val totals = scored.groupBy("source").agg(count(lit(1)).as("__ns"))
    scored
      .withColumn("__rkIn", row_number().over(wInS).cast("long"))
      .join(broadcast(offS), Seq("source", "__b"))
      .join(broadcast(totals), Seq("source"))
      .withColumn("__idx",
        expr(s"(( __rkIn + __off) * ${n}L + __ns - 1) DIV __ns"))
      .join(globalVals, col("__idx") === col("__grk"))
      .select(col("doc_id"), col("source"), col("score"), col("norm_score"))
      .orderBy("doc_id")
  }

  /** ARRAY-FUNCTION FAMILY (q137) — the collection-scalar surface
    * (slice, element access, min/max, position, sort, containment,
    * size) exercised over the embedding arrays and cross-engine
    * oracled against DuckDB's list functions, the q65/q66 treatment
    * for collections. Pure narrow projection, zero shuffles. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val v = Similarity.toDouble(col("embedding"))
    embs(spark, dir)
      .select(
        col("vec_id"),
        size(v).as("dim"),
        element_at(v, 1).as("first_val"),
        element_at(v, -1).as("last_val"),
        array_max(slice(v, 1, 8)).as("head_max"),
        array_min(slice(v, 1, 8)).as("head_min"),
        array_position(v, array_max(v)).cast("long").as("argmax_pos"),
        element_at(array_sort(slice(v, 1, 8)), 1).as("head_sorted_first"),
        array_contains(v, element_at(v, 3)).as("contains_third"))
      .orderBy("vec_id")
  }

  /** SQL-CALLABLE NATIVE FUNCTIONS (q138): the same cosine scoring as
    * q26, but written as a SQL STRING against the session's
    * registered `graft_dot` function
    * ([[graft.functions.GraftFunctions.register]] — the post-hoc
    * registration path; `spark.sql.extensions` injects the identical
    * builders). This pins the SQL surface of the native-kernel
    * family: a user typing SQL gets the same codegen'd expression —
    * and the same bits — as the DataFrame API. */
  def sqlNativeFuncs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    embs(spark, dir).createOrReplaceTempView("q138_embeddings")
    spark.sql(
      """SELECT e.vec_id,
           graft_dot(TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
                     TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)))
             AS self_dot,
           SQRT(graft_dot(TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
                          TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE))))
             AS norm
         FROM q138_embeddings e
         ORDER BY e.vec_id""")
  }

  /** PER-SOURCE ZIPF SLOPE (q130) — the corpus-statistics fingerprint
    * (natural text follows Zipf's law with slope ≈ −1; templated or
    * machine-generated sources bend it): per source, least-squares
    * fit of ln(count) against ln(rank) over the top-200 terms,
    * emitting slope and intercept. A drifting slope between crawl
    * snapshots is the cheap canary for a source turning into
    * boilerplate. Scale: the corpus collapses to (source, term)
    * count rows via partial agg; the rank window runs over per-source
    * VOCABULARY rows (never documents), and the fit consumes 200 rows
    * per source. Float discipline: x = ln rank, y = ln count are
    * per-row deterministic; every cross-row sum rounds per term to a
    * 1e-6-scaled exact LONG (q112's class), and slope/intercept
    * derive from those integers by one fixed expression tree. */
  def zipfSlope(spark: SparkSession, dir: String, topR: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text")))
        .as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source")
      .orderBy(col("c").desc, col("term").asc)
    val ranked = counts
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= topR)
      .withColumn("x", log(col("r").cast("double")))
      .withColumn("y", log(col("c").cast("double")))
    val agg = ranked.groupBy("source").agg(
      count(lit(1)).as("n_terms"),
      sum(round(col("x") * 1e6).cast("long")).as("sx"),
      sum(round(col("y") * 1e6).cast("long")).as("sy"),
      sum(round(col("x") * col("y") * 1e6).cast("long")).as("sxy"),
      sum(round(col("x") * col("x") * 1e6).cast("long")).as("sxx"))
    val n = col("n_terms").cast("double")
    val sx = col("sx").cast("double") / 1e6
    val sy = col("sy").cast("double") / 1e6
    val sxy = col("sxy").cast("double") / 1e6
    val sxx = col("sxx").cast("double") / 1e6
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    agg.select(col("source"), col("n_terms"),
      slope.as("zipf_slope"),
      ((sy - slope * sx) / n).as("zipf_intercept"))
      .orderBy("source")
  }

  /** IN-BATCH NEGATIVES export (q127) — the contrastive-training pair
    * table (SimCLR/DPR recipe: within a training batch, every other
    * member is a negative for the anchor): q97's deterministic epoch
    * shuffle assigns the batch (batch = shuffle_pos DIV 8), then each
    * batch's members pair ALL-TO-ALL minus self. Because the
    * permutation is a pure function of doc_id, the pairing is
    * identical on every run/cluster/partitioning — the property that
    * makes a training run reproducible. Scale: the self-join key is
    * batch_id with EXACTLY 8 rows per key (perfectly uniform by
    * construction — no skew possible); output is 7 rows per doc; one
    * shuffle on batch_id beyond q97's two-pass rank. */
  def inBatchNegatives(spark: SparkSession, dir: String,
      batchSize: Int = 8): DataFrame = {
    val b = epochShuffle(spark, dir)
      .select(col("doc_id"),
        floor((col("shuffle_pos") - 1) / lit(batchSize)).cast("long")
          .as("batch_id"))
    val a = b.select(col("batch_id"), col("doc_id").as("anchor_id"))
    val n = b.select(col("batch_id"), col("doc_id").as("negative_id"))
    a.join(n, Seq("batch_id"))
      .filter(col("anchor_id") =!= col("negative_id"))
      .orderBy("batch_id", "anchor_id", "negative_id")
  }

  /** LENGTH-BUCKET PACKING EFFICIENCY (q98) — the batching-shape
    * report behind bucketed batching (vs q67's concat-and-chop): docs
    * grouped by the power-of-two sequence length they'd pad to; per
    * bucket, doc count, real tokens, pad waste (bucket·n − tokens) and
    * the pad fraction. The bucket is an exact INTEGER CASE chain over
    * powers of two — no float log2, whose exactness at powers of two
    * is libm-dependent and would flake the hash at boundaries. Pure
    * narrow map + one tiny grouped fold (≤ 21 buckets). */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n_tokens")
    val bucket = (0 to 20).foldRight(lit(1L << 21): Column) { (j, rest) =>
      when(n <= (1L << j), lit(1L << j)).otherwise(rest)
    }
    docs(spark, dir)
      .select(size(split(lower(col("text")), " ")).cast("long")
        .as("n_tokens"))
      .withColumn("seq_len", bucket)
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(n).as("total_tokens"),
        sum(col("seq_len") - n).as("pad_tokens"))
      .withColumn("pad_frac",
        col("pad_tokens").cast("double") /
          (col("seq_len") * col("n_docs")))
      .orderBy("seq_len")
  }

  /** BPE MERGE-PAIR STATISTICS (q99) — the counting pass of
    * byte-pair-encoding tokenizer training (Sennrich et al., ACL'16):
    * over whitespace words, count every adjacent character pair and
    * emit the top-20 merge candidates (the first BPE iteration picks
    * the argmax; subsequent iterations re-run the same pass over
    * merged symbols). Ties break on the pair string so the ranking is
    * a total order. Scale: the pair explode is a narrow map (≤ |word|
    * rows per word), counting is one partial-agg shuffle of pair
    * keys, and the global top-20 is Spark's distributed
    * TakeOrderedAndProject (per-partition local top-20, driver
    * merge) — no single-reducer sort of the pair table. */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    docs(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  /** CROSS-SOURCE N-GRAM OVERLAP MATRIX (q100) — the lexical
    * data-governance complement to q78's embedding probe: for every
    * source pair, how many distinct 8-gram shingles they share and
    * the shingle-set Jaccard. High overlap between a "licensed" and a
    * "scraped" source is the license-laundering / mirror-site signal;
    * overlap with a benchmark source is contamination (q45's flag,
    * aggregated to source grain). Shingles live in q23's hashed-long
    * space (the join shuffles 8-byte keys, never gram text). Scale:
    * distinct (gram, source) is one partial-agg pass; the self-join
    * meets ≤ nSources rows per gram key (output ≤ nSources² rows
    * total); at web scale df-cap universal boilerplate grams first —
    * the q25 prefix trade, with the drop logged per SCALE.md's
    * no-silent-caps rule. */
  def crossSourceOverlap(spark: SparkSession, dir: String,
      n: Int = 8): DataFrame = {
    val g = docs(spark, dir)
      .select(col("source"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, size(t) - $n), " +
          s"i -> concat_ws(' ', slice(t, i + 1, $n)))")).as("gs"))
      .select(col("source"), Dedup.hash64(col("gs"), 777).as("g"))
      .distinct()
      .localCheckpoint() // feeds per-source counts + both join sides
    val counts = g.groupBy("source").agg(count(lit(1)).as("n"))
    g.alias("a")
      .join(g.alias("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n").as("grams_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n").as("grams_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("grams_a"), col("grams_b"),
        (col("shared_grams").cast("double") /
          (col("grams_a") + col("grams_b") - col("shared_grams")))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** DSIR IMPORTANCE WEIGHTS (q101) — data selection via importance
    * resampling (Xie et al., NeurIPS'23), the published recipe for
    * "make the pretraining mix look like a target domain": score each
    * document by log w(x) = Σ_tokens [ln p̂_target(tok) − ln p̂_raw(tok)]
    * under add-one-smoothed unigram LMs over a shared top-V vocabulary
    * (DSIR's hashed features, in q68's vocab machinery); resampling
    * then keeps documents ∝ exp(log w). Target domain here = source
    * `src0`; raw = the whole corpus.
    *
    * Determinism contract: each token's log-ratio is a
    * single-expression double (ln of exact-integer ratios, identical
    * trees both engines); the ONE cross-row float — the per-document
    * Σ — is order-DEFINED, not order-insensitive: both engines fold
    * the document's token scores in POSITION order (q95's trick:
    * `aggregate(array_sort(collect_list(struct(pos, lr))))` here,
    * `list_reduce(list(lr ORDER BY pos))` in DuckDB).
    *
    * Scale: the vocab is a sharded top-V (no single-reducer sort of
    * the term table); LM counts are partial-agg shuffles; the scored
    * ≤V-row vocab broadcasts back over the stream; the per-doc
    * regroup shuffles one (pos, double) pair per token — the same
    * volume q77 already moves. */
  def dsirWeights(spark: SparkSession, dir: String,
      targetSource: String = "src0", vocabSize: Int = 256): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .localCheckpoint() // vocab + LM counts + totals + per-doc fold
    val vocab = Analytics
      .topKPerGroup(toks.withColumn("__g", lit(0)), "__g", "tok",
        vocabSize, shards = 32)
      .select(col("tok"), col("n").as("cr"))
    val tgtCnt = toks.filter(col("source") === lit(targetSource))
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val totals = toks.agg(
      count(lit(1)).as("nr"),
      sum(when(col("source") === lit(targetSource), 1L).otherwise(0L))
        .as("nt"))
    val vrow = vocab.agg(count(lit(1)).as("v"))
    val scored = vocab.join(tgtCnt, Seq("tok"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(totals).crossJoin(vrow)
      .select(col("tok"),
        (log((col("ct") + 1).cast("double") / (col("nt") + col("v"))) -
          log((col("cr") + 1).cast("double") / (col("nr") + col("v"))))
          .as("lr"))
    val dflt = totals.crossJoin(vrow)
      .select((log(lit(1.0) / (col("nt") + col("v"))) -
        log(lit(1.0) / (col("nr") + col("v")))).as("lr0"))
    toks.join(broadcast(scored), Seq("tok"), "left")
      .crossJoin(broadcast(dflt))
      .select(col("doc_id"), col("source"), col("pos"),
        coalesce(col("lr"), col("lr0")).as("lr"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("pos"), col("lr")))),
          lit(0.0), (a, x) => a + x.getField("lr")).as("log_weight"))
      .orderBy("doc_id")
  }

  /** GREEDY K-CENTER CORESET (q102) — diversity-first exemplar
    * selection over the embedding space (Sener & Savarese, ICLR'18:
    * the k-Center-Greedy coreset for data-efficient training; 2-approx
    * of the optimal cover radius): seed with the lowest id, then k−1
    * rounds of "pick the point FARTHEST from everything selected"
    * (max-min L2, ties → lowest id). The corpus-level complement of
    * q91's per-query MMR; the emitted `dist` of the last pick IS the
    * corpus cover radius.
    *
    * Scale: each round is ONE narrow pass — the running min-distance
    * column folds `least(d, ‖v−pick‖²)` against the newly collected
    * pick (a centroid-sized driver round-trip, the ivfTrain
    * convention), and the argmax is a distributed
    * TakeOrderedAndProject, never a global sort. k rounds = k scans;
    * at 100 TB you persist the running d column between rounds
    * (here: one localCheckpoint'd frame per round). */
  def kcenterCoreset(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val e = embs(spark, dir)
      .select(col("vec_id").cast("long").as("id"),
        Similarity.toDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val seed = e.orderBy("id").limit(1).collect()(0)
    def vlit(a: Seq[Double]): Column = array(a.map(lit): _*)
    var picks = List((1, seed.getLong(0), 0.0))
    var mind = e.withColumn("d",
      graft.functions.vector.arrayL2Sq(vlit(seed.getSeq[Double](1)),
        col("v")))
    for (r <- 2 to k) {
      val p = mind.orderBy(col("d").desc, col("id").asc).limit(1)
        .collect()(0)
      picks ::= ((r, p.getLong(0), math.sqrt(p.getDouble(2))))
      mind = mind.withColumn("d",
        least(col("d"), graft.functions.vector.arrayL2Sq(
          vlit(p.getSeq[Double](1)), col("v"))))
    }
    val spark2 = spark
    import spark2.implicits._
    picks.reverse.toDF("rank", "vec_id", "dist")
      .orderBy("rank")
  }

  /** WATER-FILLING TOKEN ALLOCATION (q103) — the mixture PLANNER that
    * turns q95's temperature weights into an executable budget: given
    * a global token budget B (here ¾ of the corpus), allocate
    * a_i = min(cap_i, λ·w_i) per source with λ chosen so Σ a_i = B —
    * the classic water-filling solution (allocate ∝ weight, but no
    * source can contribute more tokens than it has; freed budget
    * re-spreads over the rest). Closed form: sort sources by
    * r_i = cap_i/w_i ascending; a source is capped iff the λ implied
    * by capping everything before it already overflows its own cap
    * (λ_{j−1} ≥ r_j — monotone, so the capped set is a prefix).
    *
    * Float contract: caps and B are exact longs; weights go through
    * the per-row-round→LONG convention (√n rounded to 1e-6), so every
    * prefix/suffix sum is exact integer arithmetic; λ and the
    * allocations are then single divisions/products of exact values —
    * no float accumulates across rows. Scale: everything after the
    * per-source aggregate operates on nSources rows. */
  def waterFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = docs(spark, dir)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("ntok"))
      .groupBy("source").agg(sum("ntok").as("cap"))
      .withColumn("wl", round(sqrt(col("cap").cast("double")) * 1e6)
        .cast("long"))
      .withColumn("r", col("cap").cast("double") /
        (col("wl").cast("double") / 1e6))
    val tot = per.agg(sum("cap").as("tc"), sum("wl").as("twl"))
    val wOrd = Window.orderBy(col("r").asc, col("source").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // prefix sums run over the nSources-row AGGREGATE — the global
    // window is bounded, never the corpus
    val flagged = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tc * 19 div 20"))
      .withColumn("cprev", coalesce(sum("cap").over(wOrd), lit(0L)))
      .withColumn("wlprev", coalesce(sum("wl").over(wOrd), lit(0L)))
      .withColumn("capped",
        (col("budget") - col("cprev")).cast("double") /
          ((col("twl") - col("wlprev")).cast("double") / 1e6) >= col("r"))
    val lam = flagged.agg(
      sum(when(col("capped"), col("cap")).otherwise(0L)).as("ccap"),
      sum(when(col("capped"), col("wl")).otherwise(0L)).as("cwl"))
    flagged.crossJoin(broadcast(lam))
      .select(col("source"), col("cap").as("n_tokens"),
        (col("wl").cast("double") / 1e6).as("weight"),
        when(col("capped"), col("cap").cast("double"))
          .otherwise(
            (col("budget") - col("ccap")).cast("double") /
              ((col("twl") - col("cwl")).cast("double") / 1e6) *
              (col("wl").cast("double") / 1e6))
          .as("allocation"),
        col("capped"))
      .orderBy("source")
  }

  /** MIXTURE PLAN APPLIED (q104) — q103's allocations executed as
    * q40's distributed cumulative sum: per source, keep documents in
    * deterministic md5 order while the running token total stays
    * within the source's water-filled allocation. The end-to-end
    * "plan → select" pair a mixer actually ships: same docs kept on
    * every run, every cluster, every partitioning. Scale: q40's
    * 256-way order-preserving bucket cumsum (no per-source reducer
    * sort); the ≤nSources-row allocation table broadcasts. */
  def mixtureApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alloc = waterFill(spark, dir)
      .select(col("source"), col("allocation"))
    val d = docs(spark, dir)
      .withColumn("n_tokens",
        size(split(lower(col("text")), " ")).cast("long"))
      .withColumn("__ord", md5(col("doc_id").cast("string")))
      .withColumn("__bucket",
        conv(substring(col("__ord"), 1, 2), 16, 10).cast("int"))
    val wIn = Window.partitionBy("source", "__bucket")
      .orderBy(col("__ord"), col("doc_id"))
    val withinCum = d.withColumn("__cum_in", sum(col("n_tokens")).over(wIn))
    val wOff = Window.partitionBy("source").orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("source", "__bucket")
      .agg(sum(col("n_tokens")).as("__bucket_tokens"))
      .withColumn("__offset",
        coalesce(sum(col("__bucket_tokens")).over(wOff), lit(0L)))
      .select("source", "__bucket", "__offset")
    withinCum.join(broadcast(offsets), Seq("source", "__bucket"))
      .withColumn("cum_tokens", col("__offset") + col("__cum_in"))
      .join(broadcast(alloc), Seq("source"))
      .filter(col("cum_tokens").cast("double") <= col("allocation"))
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("source", "cum_tokens")
  }

  /** SLIDING-WINDOW CHUNKING (q105) — the retrieval-prep operator
    * every RAG/embedding pipeline runs before indexing: split each
    * document into fixed-size token windows (size 64, stride 48 →
    * 16-token overlap so no boundary sentence is orphaned). Emits
    * (doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text); the
    * chunk count 1 + ⌈max(0, n−size)/stride⌉ and every boundary are
    * exact integer arithmetic. Pure narrow map — the explode fans one
    * row per chunk with zero shuffles at any corpus size; chunk ids
    * are (doc_id, idx), stable under re-runs and partitioning. */
  def chunkDocs(spark: SparkSession, dir: String, chunk: Int = 64,
      stride: Int = 48): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("n"), explode(expr(
        s"""transform(
             sequence(0, CASE WHEN n <= $chunk THEN 0
               ELSE (n - $chunk + $stride - 1) div $stride END),
             i -> struct(CAST(i AS INT) AS idx,
               CAST(i * $stride AS INT) AS start,
               CAST(least($chunk, n - i * $stride) AS INT) AS len,
               concat_ws(' ', slice(t, i * $stride + 1,
                 least($chunk, n - i * $stride))) AS txt))"""))
        .as("c"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"),
        col("c.start").as("start_tok"),
        col("c.len").as("n_chunk_tokens"),
        col("c.txt").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  /** SOURCE-DISTRIBUTION DIVERGENCE MATRIX (q106) — Jensen–Shannon
    * divergence between every source pair's smoothed unigram
    * distributions over the shared top-V vocabulary: the
    * DISTRIBUTIONAL complement to q100's surface overlap (two mirror
    * sites share grams; two same-genre sources share a distribution).
    * JS (symmetric, bounded by ln 2) is the standard corpus-similarity
    * report for mixture design.
    *
    * Float contract: each p is (c+1)/(n_s+V) of exact ints; the
    * per-pair Σ over the vocab is an order-DEFINED fold in vocab-token
    * order (q95/q101's class) via `aggregate(zip_with(pa, pb, …))` /
    * `list_reduce(list_transform(…))`. Scale: everything after the
    * per-(source, term) count operates on nSources·V rows; the output
    * is nSources² rows. */
  def sourceDivergence(spark: SparkSession, dir: String,
      vocabSize: Int = 256): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .localCheckpoint() // vocab + per-source counts
    val vocab = Analytics
      .topKPerGroup(toks.withColumn("__g", lit(0)), "__g", "tok",
        vocabSize, shards = 32)
      .select(col("tok"))
    val sCnt = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val grid = toks.select("source").distinct()
      .crossJoin(broadcast(vocab))
      .join(sCnt, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c"))
    val ns = grid.groupBy("source").agg(sum("c").as("nsrc"))
    val vr = vocab.agg(count(lit(1)).as("v"))
    // per-source probability vector in vocab-token order
    val pvec = grid.join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(vr))
      .select(col("source"), col("tok"),
        ((col("c") + 1).cast("double") / (col("nsrc") + col("v")))
          .as("p"))
      .groupBy("source")
      .agg(array_sort(collect_list(struct(col("tok"), col("p"))))
        .as("ps"))
      .select(col("source"), transform(col("ps"), _.getField("p")).as("pv"))
      .localCheckpoint()
    val a = pvec.select(col("source").as("source_a"), col("pv").as("pa"))
    val b = pvec.select(col("source").as("source_b"), col("pv").as("pb"))
    a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        aggregate(
          zip_with(col("pa"), col("pb"), (x, y) =>
            x * log(x / ((x + y) / lit(2.0))) * lit(0.5) +
              y * log(y / ((x + y) / lit(2.0))) * lit(0.5)),
          lit(0.0), (acc, t) => acc + t).as("js_divergence"))
      .orderBy("source_a", "source_b")
  }

  /** INCREMENTAL VOCABULARY DRIFT (q107) — the data-drift monitor a
    * corpus team runs between table versions: top-k terms by absolute
    * count change, computed ONLY from the versioned table's change
    * feed (q79's machinery), never by rescanning the old snapshot.
    * Setup inside the query (the q41/q79 convention): v0 = 4/5 of the
    * corpus, v1 = append the rest (file-level feed — only NEW files
    * read), v2 = DV-delete doc_id ∈ [100, 199] (row-level feed).
    * Inserted rows add their term counts, deleted rows subtract; the
    * oracle recomputes both corpus STATES from scratch — the hash
    * check proves fold-the-feed ≡ full recompute, the IVM claim
    * applied to text statistics. Scale: the feed legs read O(delta)
    * files/rows; term deltas are one partial-agg shuffle of the
    * changed rows' terms only. */
  def vocabDrift(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-drift")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    vt.write(d.filter(col("doc_id") % 5 =!= 0)) // v0
    val v0 = vt.currentVersion.get
    vt.write(d.filter(col("doc_id") % 5 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1
    val v1 = vt.currentVersion.get
    vt.deleteVectorized("doc_id", 100, 199) // v2
    val v2 = vt.currentVersion.get
    val feed = vt.changes(v0, v1).unionByName(vt.changes(v1, v2))
    feed
      .select(explode(split(lower(col("text")), " ")).as("term"),
        when(col("_change_type") === "insert", 1L).otherwise(-1L)
          .as("sgn"))
      .groupBy("term").agg(sum("sgn").as("delta"))
      .filter(col("delta") =!= 0)
      .orderBy(abs(col("delta")).desc, col("term").asc)
      .limit(k)
  }

  /** PERSISTENT MINHASH INDEX probe (q108) — build → append → query
    * through [[graft.dedup.MinhashIndex]]: the index is built on
    * doc_id % 10 ∉ {0,1,2} (v0), grows by an O(new) APPEND of
    * % 10 = 0 (v1 — the incremental-ingest path, under the oracle
    * because appended docs ARE probe hits), then the % 10 ∈ {1,2}
    * batch asks "which of you near-dups anything indexed?". The
    * oracle replays sign → band-key probe → Jaccard verify from raw
    * text — the whole persistent path (write, manifest read, probe
    * join, semi-join-scoped sets read) must reproduce the stateless
    * computation exactly. */
  def minhashIndexQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-mhidx")
      .resolve("idx").toString
    val idx = new graft.dedup.MinhashIndex(spark, root)
    val d = docs(spark, dir)
    val res = col("doc_id") % 10
    idx.build(d.filter(res =!= 0 && res =!= 1 && res =!= 2),
      "doc_id", "text")
    idx.append(d.filter(res === 0), "doc_id", "text")
    idx.query(d.filter(res === 1 || res === 2), "doc_id", "text")
  }

  /** CANONICAL-BY-QUALITY dedup policy (q109) — the survivor-selection
    * rule a production dedup actually ships: within each near-dup
    * cluster (q23's text pairs → q36's connected components), keep the
    * HIGHEST-quality member (q19's composite; ties → lowest id), not
    * the arbitrary minimum id (q76/q85's placeholder policy). Emits
    * every clustered doc with its component, quality, and the
    * canonical flag. Scale: clusters are bounded by the dedup caps
    * upstream, so the per-component window ranks a handful of rows;
    * CC is q36's O(diameter) label propagation. */
  def canonicalByQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashLshPairs(spark, dir).select("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val q = TextAnalysis.withQualityColumns(docs(spark, dir), "text")
      .select(col("doc_id"), col("quality_score"))
    comp.join(q, comp("node") === q("doc_id"))
      .withColumn("rn", row_number().over(Window.partitionBy("component")
        .orderBy(col("quality_score").desc, col("doc_id").asc)))
      .select(col("component"), col("doc_id"), col("quality_score"),
        (col("rn") === 1).as("canonical"))
      .orderBy("component", "doc_id")
  }

  /** LEXICAL DIVERSITY & ENTROPY (q110) — the information-theoretic
    * quality signals next to q19's ratio heuristics: type-token ratio
    * (template/boilerplate text repeats its vocabulary), mean word
    * length, and CHARACTER ENTROPY −Σ p ln p (a compressibility
    * proxy: spam and generated filler sit at distribution extremes —
    * the signal behind "remove low-/high-entropy docs" filters).
    * Counts are exact ints; entropy's cross-row Σ is order-DEFINED:
    * the native [[graft.functions.CharEntropy]] kernel folds each
    * row's histogram in ascending codepoint order — the same order
    * the oracle's `list_reduce(list(term ORDER BY ch))` visits — so
    * the doubles are bit-identical. Scale: the kernel makes the whole
    * query ONE narrow pass, zero shuffles (the explode formulation
    * this replaces shuffled one row per CHARACTER — ~10⁴× the doc
    * count). */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("text"),
        split(lower(col("text")), " ").as("t"))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("n_types", size(array_distinct(col("t"))))
      .withColumn("sum_len", aggregate(col("t"), lit(0L),
        (acc, x) => acc + length(x)))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (col("sum_len").cast("double") / col("n_tokens"))
          .as("mean_word_len"),
        graft.functions.CharEntropy.charEntropy(lower(col("text")))
          .as("char_entropy"))
      .orderBy("doc_id")

  /** CONTAMINATION RATE BY SOURCE (q111) — q45's doc-level benchmark
    * flags aggregated to the governance grain: per source, how many
    * corpus documents share ≥ 1 whitespace-8-gram with the benchmark
    * set, and the rate. The report a data lead actually reads
    * ("source X is 4% contaminated — quarantine it"); doc-level q45
    * stays the actionable drill-down. Same broadcast-benchmark join
    * (the corpus never shuffles); one extra nSources-row fold. */
  def contaminationBySource(spark: SparkSession, dir: String): DataFrame = {
    val shingled = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(t) - 8), " +
          "i -> concat_ws(' ', slice(t, i + 1, 8)))")).as("g8"))
    val bench = shingled.filter(col("doc_id") % 10 === 0)
      .select(col("g8")).distinct()
    val flagged = shingled.filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(bench), Seq("g8"))
      .select("doc_id").distinct()
      .withColumn("flagged", lit(1L))
    docs(spark, dir).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flagged"), lit(0L))).as("n_flagged"))
      .withColumn("flag_rate",
        col("n_flagged").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  /** EMBEDDING-TABLE QA CARD (q112) — the per-dimension data card an
    * embedding pipeline publishes (and the drift monitor diffs):
    * count, mean, std, min, max per dimension. A collapsed dimension
    * (std ≈ 0), a shifted mean, or an exploding max is how a broken
    * encoder export shows up. Float contract: per-value
    * round→LONG sums (the q86 class) make mean/std order-insensitive;
    * min/max are exact. Scale: one posexplode collapsing through
    * partial agg to d rows — the corpus never shuffles raw vectors. */
  def embeddingQa(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir)
      .select(posexplode(Similarity.toDouble(col("embedding")))
        .as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(round(col("x") * 1e6).cast("long")).as("sx"),
        sum(round(col("x") * col("x") * 1e6).cast("long")).as("sxx"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .select(col("dim"), col("n"),
        (col("sx").cast("double") / 1e6 / col("n")).as("mean_x"),
        sqrt(greatest(lit(0.0),
          col("sxx").cast("double") / 1e6 / col("n") -
            (col("sx").cast("double") / 1e6 / col("n")) *
            (col("sx").cast("double") / 1e6 / col("n")))).as("std_x"),
        col("min_x"), col("max_x"))
      .orderBy("dim")

  /** LABEL-SEPARATION QA over the embedding table (q125) — the
    * class-structure report an encoder owner reads before trusting
    * labels for curation (q86/q114 cluster on these vectors; if
    * classes don't separate, cluster-balanced ops are noise): per
    * label, member count, mean squared distance to the OWN-label
    * centroid (intra-class tightness), the nearest OTHER centroid and
    * its squared distance (inter-class margin), and the Fisher-style
    * ratio inter/intra — the number that actually says "separable".
    *
    * Float contract (q112's class): every cross-row float sum rounds
    * per term to a 1e-6-scaled exact LONG first (centroid sums,
    * residual sums, centroid-pair sums), so all aggregates are
    * order-insensitive integers; centroids and ratios derive from
    * those integers by a fixed expression tree — bit-identical
    * cross-engine. Scale: the per-(row,dim) explode collapses via
    * partial agg to nlabels×d centroid rows; the residual pass joins
    * a BROADCAST centroid frame (narrow) and collapses to nlabels
    * rows; the pair matrix is nlabels²×d tiny rows. The corpus
    * shuffles only as partially-aggregated stat rows. */
  def labelSeparation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = embs(spark, dir)
      .select(col("label"), col("vec_id"),
        posexplode(Similarity.toDouble(col("embedding"))).as(Seq("dim", "x")))
    val cent = ex.groupBy("label", "dim")
      .agg(sum(round(col("x") * 1e6).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("sx").cast("double") / 1e6 / col("n")).as("cent"))
    val members = embs(spark, dir).groupBy("label")
      .agg(count(lit(1)).as("n_members"))
    val intra = ex.join(broadcast(cent), Seq("label", "dim"))
      .withColumn("_t", round((col("x") - col("cent"))
        * (col("x") - col("cent")) * 1e6).cast("long"))
      .groupBy("label").agg(sum(col("_t")).as("intra_scaled"))
    val c1 = cent.select(col("label").as("label"), col("dim"),
      col("cent").as("c1"))
    val c2 = cent.select(col("label").as("l2"), col("dim"),
      col("cent").as("c2"))
    val nearest = c1.join(c2, Seq("dim")).filter(col("label") =!= col("l2"))
      .withColumn("_t", round((col("c1") - col("c2"))
        * (col("c1") - col("c2")) * 1e6).cast("long"))
      .groupBy("label", "l2").agg(sum(col("_t")).as("inter_scaled"))
      .withColumn("_rn", row_number().over(Window.partitionBy("label")
        .orderBy(col("inter_scaled").asc, col("l2").asc)))
      .filter(col("_rn") === 1).drop("_rn")
    members.join(intra, Seq("label")).join(nearest, Seq("label"))
      .select(col("label"), col("n_members"),
        (col("intra_scaled").cast("double") / 1e6 / col("n_members"))
          .as("intra_msd"),
        col("l2").as("nearest_label"),
        (col("inter_scaled").cast("double") / 1e6).as("inter_sqdist"),
        ((col("inter_scaled") * col("n_members")).cast("double") /
          col("intra_scaled").cast("double")).as("sep_ratio"))
      .orderBy("label")
  }

  /** ANN EVALUATION HARNESS (q113) — the retrieval-quality report an
    * index owner actually publishes: per query, recall@3 and MRR of
    * the IVF index (q30) against the exact brute-force ground truth
    * (q26). Rank metrics are exact rationals (hit counts / 3,
    * 1/rank), so the float contract is trivial. The oracle is
    * GENERATED ([[AnnOracles.annEvalSql]]): the frozen-centroid IVF
    * SQL and an exact-cosine ground-truth ranking composed into the
    * same metric join — a drift in EITHER pipeline or in the metric
    * arithmetic hash-mismatches. Scale: both inputs are ≤ k rows per
    * query; the metric join is per-query bounded. */
  def annEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gt = knnCosineBrute(spark, dir)
    val sys = annIvf(spark, dir)
    val sysR = sys.withColumn("rk", row_number().over(
      Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)))
    val perQ = sysR
      .join(gt.select("q_id", "neighbor_id"), Seq("q_id", "neighbor_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("nhit"), min("rk").as("minrk"))
    gt.select("q_id").distinct()
      .join(perQ, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("nhit"), lit(0L)).cast("double") / lit(3.0))
          .as("recall_at_3"),
        coalesce(lit(1.0) / col("minrk"), lit(0.0)).as("mrr"))
      .orderBy("q_id")
  }

  /** ANN INDEX STALENESS REPORT (q246) — the retrain-trigger metric a
    * persisted-index owner watches: after a delete + append churn
    * cycle (a third of the corpus deleted via DV masks, replaced by
    * drifted vectors — negated embeddings re-keyed +10^6 — assigned
    * by the STORED, now-stale centroids), recall@3 and MRR of the
    * stale index against the exact brute-force ground truth on the
    * CURRENT corpus. Drifted vectors land in whatever stale cluster
    * is nearest, so probes miss some of them — recall degrades below
    * the fresh-index q113 levels, and THAT gap is the "rebuild me"
    * signal. Oracle: generated ([[AnnOracles.annStalenessSql]]) —
    * frozen centroids replay assignment over the churned corpus (kept
    * rows and appends assign identically: same model), probe + rank +
    * metric fold all restated in SQL. Scale: the churn writes
    * O(changed rows) (DV masks + one append commit); the probe still
    * reads ~nprobe/nlist of the corpus. */
  def annStaleness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val e = embs(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_stale_").toString
    val corpus = e.filter(col("vec_id") >= 5)
    graft.similarity.IvfIndex.build(spark, corpus, "vec_id", "embedding",
      root, nlist = 8, iters = 2)
    // churn: a third of the ids leave (DV masks, O(deleted rows)) —
    // through the DISTRIBUTED frame API: the victim list never
    // collects (at 100 TB churn the id set does not fit a driver)
    graft.similarity.IvfIndex.delete(spark, root,
      corpus.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").cast("long")))
    // …and drifted replacements arrive, assigned by the STALE model
    val appended = corpus.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    graft.similarity.IvfIndex.append(spark, appended, "vec_id",
      "embedding", root)
    val queries = e.filter(col("vec_id") < 5)
    val sys = graft.similarity.IvfIndex.query(spark, root, queries,
      "vec_id", "embedding", k = 3, nprobe = 3)
    // exact ground truth on the corpus AS IT IS NOW
    val cur = corpus.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(appended)
    val gt = Similarity.bruteForceTopK(cur, queries,
      idCol = "vec_id", vecCol = "embedding", k = 3)
    val sysR = sys.withColumn("rk", row_number().over(
      Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)))
    val perQ = sysR
      .join(gt.select("q_id", "neighbor_id"), Seq("q_id", "neighbor_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("nhit"), min("rk").as("minrk"))
    gt.select("q_id").distinct()
      .join(perQ, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("nhit"), lit(0L)).cast("double") / lit(3.0))
          .as("recall_at_3"),
        coalesce(lit(1.0) / col("minrk"), lit(0.0)).as("mrr"))
      .orderBy("q_id")
  }

  /** GOPHER-RULES QUALITY CENSUS (q232; Rae et al. 2021 §A1.1, the
    * canonical named pre-filter set every large text pipeline runs
    * before model-based scoring): per source, how many documents fail
    * each structural rule — word count out of [50, 100k], mean word
    * length out of [3, 10], fewer than 2 stopword hits, <80% of words
    * containing an alphabetic character, symbol-to-word ratio >0.1 —
    * plus the count passing ALL rules. Every rule evaluates in EXACT
    * INTEGER arithmetic (means and ratios compare by
    * cross-multiplication: `sum_len < 3·n_words` instead of
    * `sum_len/n < 3`), so there is no float anywhere and the census
    * hashes trivially. Distinct from q19's continuous score: this is
    * the named RULE breakdown an ablation report tabulates — which
    * rule bites, where. Scale: one narrow token pass per doc + one
    * partial-agg shuffle on source. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    val d = docs(spark, dir)
      .withColumn("_t", t)
      .withColumn("nw", size(col("_t")).cast("long"))
      .withColumn("sumlen", aggregate(col("_t"), lit(0L),
        (acc, w) => acc + length(w)))
      .withColumn("nalpha", size(filter(col("_t"),
        w => w.rlike("[a-z]"))).cast("long"))
      .withColumn("nsym", size(filter(col("_t"),
        w => w.rlike("^[^a-z0-9]+$"))).cast("long"))
      .withColumn("nstop", graft.functions.StopwordHitCount
        .stopwordHits(col("_t"), TextAnalysis.enStopwords).cast("long"))
      .select(col("source"),
        (col("nw") < 50 || col("nw") > 100000L).cast("long").as("f_wc"),
        // mean word length in [3, 10] by cross-multiplication
        (col("sumlen") < lit(3L) * col("nw") ||
          col("sumlen") > lit(10L) * col("nw")).cast("long").as("f_mwl"),
        (col("nstop") < 2).cast("long").as("f_stop"),
        // >= 80% of words must contain an alphabetic char
        (lit(5L) * col("nalpha") < lit(4L) * col("nw")).cast("long")
          .as("f_alpha"),
        // symbol-to-word ratio <= 0.1
        (lit(10L) * col("nsym") > col("nw")).cast("long").as("f_sym"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_wc")).as("n_fail_wordcount"),
        sum(col("f_mwl")).as("n_fail_meanlen"),
        sum(col("f_stop")).as("n_fail_stopwords"),
        sum(col("f_alpha")).as("n_fail_alpha"),
        sum(col("f_sym")).as("n_fail_symbol"),
        sum(when(col("f_wc") + col("f_mwl") + col("f_stop") +
          col("f_alpha") + col("f_sym") === 0L, 1L).otherwise(0L))
          .as("n_pass"))
      .orderBy("source")
  }

  /** STREAMING DECONTAMINATION (q234): the q45/q72 benchmark gate
    * moved INTO the ingest stream — documents stream from a versioned
    * feed, each batch fingerprints its texts (the q21 md5-64 content
    * fingerprint) and LEFT-ANTI joins the BROADCAST static benchmark
    * fingerprint set, so contaminated documents never land in the
    * serving corpus at all (gate-at-ingest beats scrub-after: nothing
    * downstream can accidentally train on a row that never arrived).
    * Clean rows append through the exactly-once versioned sink. The
    * oracle rebuilds the census with a relational NOT IN, so a leaked
    * contaminated row or an over-dropped clean one hash-mismatches.
    * Scale: eval suites are tiny next to a corpus — the broadcast
    * anti-join costs one map pass per batch, no stream-side shuffle
    * at all. */
  def streamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft-stream-decon").toString
    val feedRoot = s"$base/feed"
    val outRoot = s"$base/clean"
    val feedVt = new graft.io.VersionedTable(spark, feedRoot)
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()
    feedVt.write(d.filter(col("doc_id") % 2 === 0).coalesce(1)) // v0
    feedVt.write(d.filter(col("doc_id") % 2 =!= 0).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v1
    val bench = d.filter(col("doc_id") % 10 === 0)
      .select(TextAnalysis.fingerprint64(col("text")).as("fp")).distinct()
    val sink = graft.streaming.Streaming
      .versionedAppendBatch(outRoot, "decon-clean")
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(spark, feedRoot)) {
      graft.streaming.Streaming.versionedSource(spark, feedRoot)
        .withColumn("fp", TextAnalysis.fingerprint64(col("text")))
        .join(broadcast(bench), Seq("fp"), "left_anti")
        .select("doc_id", "source")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    new graft.io.VersionedTable(spark, outRoot).read()
      .groupBy("source").agg(count(lit(1)).as("n_clean"))
      .orderBy("source")
  }

  /** MATRYOSHKA TRUNCATION EVAL (q228) — the "can we cheapen the
    * embeddings 4×" decision table: retrieval recall@3 of
    * PREFIX-TRUNCATED embeddings (dims 8/16/32 of 64) against the
    * full-dimension exact ground truth, per truncation width. MRL-
    * trained embedding families put the information mass in the
    * prefix, so serving at a fraction of the dimension is a standard
    * cost lever — but only a measured recall curve licenses it; this
    * is that measurement, run entirely relationally. Recall is one
    * division of exact hit counts (the q209 float rule); ranking ties
    * break on neighbor id in both engines. Scale: each width is the
    * q26 brute kernel over sliced vectors — queries broadcast, corpus
    * streamed, and the slice cuts the dot-product cost proportionally
    * (the point being measured). */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    def topk(frame: DataFrame): DataFrame =
      Similarity.bruteForceTopK(
        corpus = frame.filter(col("vec_id") >= 5),
        queries = frame.filter(col("vec_id") < 5),
        idCol = "vec_id", vecCol = "embedding", k = 3)
        .select("q_id", "neighbor_id")
    val gt = topk(e).localCheckpoint()
    val tot = gt.agg(count(lit(1)).as("n_truth"))
    Seq(8, 16, 32).map { d =>
      val sys = topk(e.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding")))
      sys.join(gt, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(tot))
        .select(lit(d.toLong).as("dim"), col("n_hits"), col("n_truth"),
          (col("n_hits").cast("double") / col("n_truth").cast("double"))
            .as("recall_at_3"))
    }.reduce(_.unionByName(_)).orderBy("dim")
  }

  /** CLUSTER-BALANCED SUBSAMPLING (q114) — the diversity-preserving
    * downsample (DataComp/SemDeDup-family recipe): cap each k-means
    * cluster at `cap` members so dominant modes shrink and rare modes
    * survive — the embedding-space analogue of q39's per-source cap,
    * with the same deterministic md5-order membership (stable under
    * re-runs/partitioning). Selection shape is q39's two-pass: a
    * (cluster, shard) pre-cap bounds every reducer, then the exact
    * rank runs over ≤ cap×shards survivors per cluster — no
    * single-reducer cluster sort. Oracle: frozen centroids + the
    * naive per-cluster window ([[AnnOracles.balancedSampleSql]]). */
  def clusterBalancedSample(spark: SparkSession, dir: String,
      nlist: Int = 8, cap: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embs(spark, dir)
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding", nlist,
      iters = 2)
    val ord = md5(col("id").cast("string"))
    val wPre = Window.partitionBy(col("cluster"), col("__shard"))
      .orderBy(ord, col("id"))
    val wExact = Window.partitionBy(col("cluster")).orderBy(ord, col("id"))
    Similarity.assignClusters(e, "vec_id", "embedding", cents)
      .withColumn("__shard", pmod(xxhash64(col("id")), lit(mixShards)))
      .withColumn("__pre", row_number().over(wPre))
      .filter(col("__pre") <= cap)
      .withColumn("rank_in_cluster", row_number().over(wExact))
      .filter(col("rank_in_cluster") <= cap)
      .select(col("id").as("vec_id"), col("cluster"),
        col("rank_in_cluster"))
      .orderBy("vec_id")
  }

  /** QUALITY-CURRICULUM SCHEDULE (q115) — the anneal plan curriculum
    * learning runs over data quality (easy/clean first, everything
    * later): epoch e admits each source's quality quartiles 1..e
    * (q94's rank gate), so epoch 1 trains on the cleanest 25% and
    * epoch 4 on the full corpus. Emits the per-epoch plan summary
    * (n_docs, n_tokens, cumulative token share) — the table a
    * training run's dataloader config is generated from. All counts
    * exact ints; shares are single divisions. Scale: one quartile
    * pass (q94's two-pass rank) + a 4-row fold. */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame = {
    val quarts = qualityQuartileGate(spark, dir)
      .select(col("doc_id"), col("quartile"))
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("ntok"))
    val perQuart = quarts.join(toks, Seq("doc_id"))
      .groupBy("quartile")
      .agg(count(lit(1)).as("qd"), sum("ntok").as("qt"))
    val tot = perQuart.agg(sum("qd").as("td"), sum("qt").as("tt"))
    val epochs = spark.range(1, 5).select(col("id").cast("int").as("epoch"))
    epochs.join(perQuart, col("quartile") <= col("epoch"))
      .groupBy("epoch")
      .agg(sum("qd").as("n_docs"), sum("qt").as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("epoch"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tt")).as("token_share"))
      .orderBy("epoch")
  }

  /** FILTER CASCADE WITH REJECT REASONS (q116) — the quality gate as
    * a production pipeline actually ships it: ordered rules, each doc
    * tagged with the FIRST rule it fails (`reason`) or kept — the
    * reject-reason histogram is the knob-tuning report, and per-doc
    * reasons make every drop auditable. Rules (in precedence order):
    * too_short (< 10 tokens), non_english (q20's lang-ID ≠ en),
    * low_quality (q19 composite < 0.2), repetitive (q53's
    * top-bigram fraction > 0.6), low_entropy (q110's char entropy
    * < 2.7 — calibrated to the synthetic corpus's 2.55–2.93 range;
    * real corpora tune these knobs from the reject histogram). One annotate pass (tokenize once) + the CharEntropy
    * kernel — pure narrow, zero shuffles. */
  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    val ann = graft.pipeline.CorpusPipeline.annotate(docs(spark, dir))
      .withColumn("_ent",
        graft.functions.CharEntropy.charEntropy(lower(col("text"))))
    ann.select(col("doc_id"),
        when(col("n_tokens") < 10, lit("too_short"))
          .when(col("lang_pred") =!= "en", lit("non_english"))
          .when(col("quality_score") < 0.2, lit("low_quality"))
          .when(col("top_bigram_frac") > 0.6, lit("repetitive"))
          .when(col("_ent") < 2.7, lit("low_entropy"))
          .otherwise(lit("kept")).as("reason"))
      .withColumn("keep", col("reason") === "kept")
      .orderBy("doc_id")
  }

  /** JL random-projection ANN top-3 (q117) for the q26 query set —
    * see [[Similarity.rpTopK]]. Like q96's SQ8 the oracle is STATIC:
    * the ±1 projection matrix re-derives from md5("rp:i_j") parity in
    * SQL, so sign generation, projection folds, proxy ranking, and
    * the exact re-rank are all replayed from the raw table. */
  def annRp(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.rpTopK(
      corpus = e.filter(col("vec_id") >= 5),
      queries = e.filter(col("vec_id") < 5),
      idCol = "vec_id", vecCol = "embedding", k = 3)
  }

  /** REPEATED-SPAN EXTRACTION (q118) — where q90 scores HOW MUCH of a
    * doc is shared n-gram text, this emits WHERE: the maximal
    * contiguous token regions whose every 8-gram also appears in
    * another document — the span-level signal behind substring-dedup
    * (Lee et al., ACL'22: cut the duplicated span, keep the rest) and
    * boilerplate localization (headers/footers surface as spans at
    * the same offsets corpus-wide). Positions with a shared gram
    * collapse into maximal runs via the gaps-and-islands trick:
    * island id = pos − row_number(pos) is constant exactly on
    * consecutive positions — pure integer arithmetic. Emits (doc_id,
    * span_start, span_end, n_grams) in token coordinates (end
    * inclusive, covering the last gram's tail).
    *
    * Scale: gram df is q90's partial-agg shuffle; the only window is
    * per-doc over that doc's SHARED positions — bounded by document
    * length, which corpus ingestion caps upstream. */
  def repeatedSpans(spark: SparkSession, dir: String, n: Int = 8,
      minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $n), " +
          s"i -> concat_ws(' ', slice(t, i + 1, $n)))"))
        .as(Seq("pos", "g")))
      .localCheckpoint() // df aggregate + position join
    val dfs = g.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("gdf"))
    val shared = g.join(dfs.filter(col("gdf") >= minDf), Seq("g"))
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    shared
      .withColumn("__island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "__island")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
      .orderBy("doc_id", "span_start")
  }

  /** SPAN CUT APPLIED (q119) — q118's substring dedup executed (the
    * Lee et al. ACL'22 treatment): remove every token covered by a
    * cross-document repeated span, keep the rest, and re-assemble the
    * cleaned text in original token order. Emits (doc_id, n_tokens,
    * n_kept, text_clean); uncut docs pass through whole, and a doc
    * whose EVERY token is covered drops out entirely — the
    * fully-duplicated case, which exact dedup (q22) already removes.
    * Formulated relationally (positions anti-join covered positions,
    * then an ordered re-agg) so both engines run the identical plan —
    * no nested-lambda HOFs. Scale: the covered-position explode is
    * O(span tokens); the re-agg shuffles (pos, token) pairs once —
    * the same volume any tokenize pass moves; the rebuild is a
    * per-doc sorted fold bounded by doc length. */
  def spanCut(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " "))
        .as(Seq("pos", "tok")))
    val covered = repeatedSpans(spark, dir, n)
      .select(col("doc_id"), explode(sequence(col("span_start"),
        col("span_end"))).as("pos"))
      .distinct()
    toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          _.getField("tok"))).as("text_clean"))
      .join(docs(spark, dir).select(col("doc_id"),
        size(split(lower(col("text")), " ")).as("n_tokens")), Seq("doc_id"))
      .select("doc_id", "n_tokens", "n_kept", "text_clean")
      .orderBy("doc_id")
  }

  /** LENGTH-DISTRIBUTION KS DRIFT (q120) — per source, the exact
    * two-sample Kolmogorov–Smirnov statistic between the source's
    * token-length distribution and the whole corpus's: the
    * shape-drift monitor that catches a truncating scraper or a
    * boilerplate injection even when mean length looks fine (q28/q92
    * report moments; KS reports the whole CDF). D = max over the
    * corpus length grid of |F_src − F_corpus|, computed on the full
    * grid (every source's ECDF evaluated at every distinct corpus
    * length — step functions need the union grid, not just the
    * source's own points). Everything is exact integer cumulative
    * counts until the final per-grid-point ratios; max/abs over
    * identical-tree doubles is engine-stable. Scale: the grid is the
    * distinct-length set (bounded by max doc length); all windows run
    * over nSources×|grid| aggregate rows, never the corpus. */
  def lengthKsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = docs(spark, dir)
      .select(col("source"),
        size(split(lower(col("text")), " ")).as("len"))
      .localCheckpoint()
    val grid = lens.select("len").distinct()
    val srcCnt = lens.groupBy("source", "len").agg(count(lit(1)).as("c"))
    val srcTot = lens.groupBy("source").agg(count(lit(1)).as("n"))
    val corpusCnt = lens.groupBy("len").agg(count(lit(1)).as("cc"))
    val corpusTot = lens.agg(count(lit(1)).as("nn"))
    val full = lens.select("source").distinct()
      .crossJoin(grid)
      .join(srcCnt, Seq("source", "len"), "left")
      .na.fill(0L, Seq("c"))
    val wSrc = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wCorp = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, 0)
    val fa = full.withColumn("cum", sum("c").over(wSrc))
    val fc = grid.join(corpusCnt, Seq("len"), "left")
      .na.fill(0L, Seq("cc"))
      .withColumn("ccum", sum("cc").over(wCorp))
    fa.join(broadcast(fc.select("len", "ccum")), Seq("len"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(corpusTot))
      .select(col("source"),
        abs(col("cum").cast("double") / col("n") -
          col("ccum").cast("double") / col("nn")).as("d"))
      .groupBy("source").agg(max("d").as("ks_d"))
      .orderBy("source")
  }

  /** (q_id, neighbor_id, _cos) exact embedding-cosine scores (q26's
    * broadcast-query shape) — shared by the fusion family. */
  private def denseScores(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("nq", sqrt(Similarity.dot(col("qv"), col("qv")))))
    q.crossJoin(
        e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("neighbor_id"), col("v"))
          .withColumn("nv", sqrt(Similarity.dot(col("v"), col("v")))))
      .withColumn("_cos",
        Similarity.dot(col("qv"), col("v")) / (col("nq") * col("nv")))
  }

  /** Top-`n` of a `(q_id, neighbor_id, _cos)` frame with its exact
    * per-query rank as `rankCol` — sharded pre-prune, then the exact
    * window runs over ≤ n survivors per query. */
  private def rankedTopN(scored: DataFrame, rankCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("_cos").desc, col("neighbor_id").asc)
    Similarity.keepTopPerQuery(scored, n, ord)
      .withColumn(rankCol, row_number().over(
        Window.partitionBy(col("q_id")).orderBy(ord: _*)))
      .select(col("q_id"), col("neighbor_id"), col(rankCol))
  }

  // ------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_token_stats" -> tokenStats,
    "q19_quality_score" -> qualityScore,
    "q20_language_id" -> languageId,
    "q21_fingerprint" -> fingerprint,
    "q22_dedup_exact_docs" -> dedupExactDocs,
    "q23_minhash_lsh_pairs" -> minhashLshPairs,
    "q24_simhash" -> simhashDocs,
    "q25_ngram_jaccard_pairs" -> ngramJaccardPairs,
    "q26_knn_cosine_brute" -> knnCosineBrute,
    "q27_ann_lsh_bucketed" -> annLshBucketed,
    "q122_ann_lsh_multiprobe" -> annLshMultiProbe,
    "q123_nfc_normalize" -> nfcNormalizeDocs,
    "q125_label_separation" -> labelSeparation,
    "q127_inbatch_negatives" -> ((s, d) => inBatchNegatives(s, d)),
    "q128_topk_operator" -> knnCosineTopKOperator,
    "q130_zipf_slope" -> ((s, d) => zipfSlope(s, d)),
    "q137_array_funcs" -> arrayFuncs,
    "q141_quantile_normalize" -> ((s, d) => quantileNormalize(s, d)),
    "q151_pca_power" -> pcaPower,
    "q152_bpe_apply" -> ((s, d) => bpeApply(s, d)),
    "q153_anisotropy" -> embeddingAnisotropy,
    "q154_label_split_census" -> labelSplitCensus,
    "q138_sql_native_funcs" -> sqlNativeFuncs,
    "q28_byte_stats" -> byteStats,
    "q161_audio_features" -> audioFeatures,
    "q162_html_strip" -> htmlStrip,
    "q184_jsonl_ingest" -> jsonlIngest,
    "q187_repeated_chunks" -> repeatedChunks,
    "q193_url_canonical" -> urlCanonicalDedup,
    "q166_fuzzy_pairs" -> fuzzyDupPairs,
    "q168_lm_quality" -> ((s, d) => lmQualityScore(s, d)),
    "q29_embed_neardup" -> embedNearDup,
    "q30_ann_ivf" -> annIvf,
    "q31_winnow_neardup" -> winnowNearDup,
    "q36_neardup_components" -> neardupComponents,
    "q38_simhash_neardup" -> simhashNearDup,
    "q39_cap_per_source" -> ((s, d) => capPerSource(s, d)),
    "q40_token_budget" -> ((s, d) => tokenBudgetPerSource(s, d)),
    "q43_mix_sample" -> mixSample,
    "q44_dataset_split" -> datasetSplit,
    "q45_decontaminate" -> decontaminate,
    "q57_ann_pq" -> annPq,
    "q58_ann_ivfpq" -> annIvfPq,
    "q59_tfidf_topterms" -> ((s, d) => tfidfTopTerms(s, d)),
    "q60_bm25_topterms" -> ((s, d) => bm25TopTerms(s, d)),
    "q67_seq_pack" -> ((s, d) => seqPack(s, d)),
    "q68_unigram_oov" -> ((s, d) => unigramOov(s, d)),
    "q69_ann_ivf_indexed" -> annIvfIndexed,
    "q70_ann_ivfpq_indexed" -> annIvfPqIndexed,
    "q72_decontam_bloom" -> decontaminateBloom,
    "q75_ann_ivf_filtered" -> annIvfFilteredIndexed,
    "q76_semantic_purge" -> semanticPurge,
    "q77_bigram_lm" -> ((s, d) => bigramLm(s, d)),
    "q78_cross_source_neighbor" -> crossSourceNeighbor,
    "q80_lexical_knn" -> ((s, d) => lexicalKnn(s, d)),
    "q81_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "q82_hard_negatives" -> ((s, d) => hardNegatives(s, d)),
    "q83_containment" -> containmentDup,
    "q84_quality_gate" -> qualityGate,
    "q85_dedup_report" -> dedupReport,
    "q86_cluster_profile" -> ((s, d) => clusterProfile(s, d)),
    "q87_pii_redact" -> piiRedact,
    "q88_bm25_index" -> bm25Indexed,
    "q89_bm25_index_delete" -> bm25IndexDelete,
    "q90_repeated_ngrams" -> ((s, d) => repeatedNgrams(s, d)),
    "q91_mmr_diversify" -> ((s, d) => mmrDiversify(s, d)),
    "q92_source_datacard" -> sourceDataCard,
    "q93_semdedup" -> ((s, d) => semDedup(s, d)),
    "q94_quality_quartile" -> ((s, d) => qualityQuartileGate(s, d)),
    "q95_temperature_mix" -> temperatureMix,
    "q96_ann_sq8" -> annSq,
    "q251_ann_binary" -> annBinary,
    "q252_readability" -> readability,
    "q258_chat_spans" -> chatTemplateSpans,
    "q97_epoch_shuffle" -> ((s, d) => epochShuffle(s, d)),
    "q98_length_buckets" -> lengthBuckets,
    "q99_bpe_pairs" -> ((s, d) => bpePairs(s, d)),
    "q100_source_overlap" -> ((s, d) => crossSourceOverlap(s, d)),
    "q101_dsir_weights" -> ((s, d) => dsirWeights(s, d)),
    "q102_kcenter_coreset" -> ((s, d) => kcenterCoreset(s, d)),
    "q103_water_fill" -> waterFill,
    "q104_mixture_apply" -> mixtureApply,
    "q105_chunk_docs" -> ((s, d) => chunkDocs(s, d)),
    "q106_source_divergence" -> ((s, d) => sourceDivergence(s, d)),
    "q107_vocab_drift" -> ((s, d) => vocabDrift(s, d)),
    "q108_minhash_index" -> minhashIndexQuery,
    "q109_canonical_quality" -> canonicalByQuality,
    "q110_lexical_diversity" -> lexicalDiversity,
    "q111_contamination_rate" -> contaminationBySource,
    "q112_embedding_qa" -> embeddingQa,
    "q113_ann_eval" -> annEval,
    "q246_ann_staleness" -> annStaleness,
    "q114_balanced_sample" -> ((s, d) => clusterBalancedSample(s, d)),
    "q115_curriculum" -> curriculumSchedule,
    "q116_filter_cascade" -> filterCascade,
    "q117_ann_rp" -> annRp,
    "q118_repeated_spans" -> ((s, d) => repeatedSpans(s, d)),
    "q119_span_cut" -> ((s, d) => spanCut(s, d)),
    "q120_length_ks" -> lengthKsDrift,
    "q213_quality_classifier" -> qualityClassifier,
    "q214_classifier_auc" -> classifierAuc,
    "q221_classifier_holdout" -> classifierHoldout,
    "q222_weighted_sample" -> weightedSample,
    "q228_matryoshka_recall" -> matryoshkaRecall,
    "q232_gopher_rules" -> gopherRules,
    "q234_stream_decontaminate" -> streamDecontaminate,
    "q238_calibration" -> classifierCalibration,
    "q217_lm_xent" -> ((s, d) => lmCrossEntropy(s, d))
  )

  /** q103's water-filling chain as CTE bodies ending in a relation
    * `wf(source, cap, weight, allocation, capped)` — shared by the
    * q103 oracle and q104's applied-selection oracle. Mirrors
    * [[waterFill]] step for step (per-row-round→LONG weights, exact
    * integer prefix/suffix sums, single-division λ). */
  private val waterFillCtes: String =
    """per AS (
         SELECT source,
           CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS cap
         FROM documents GROUP BY 1),
       wfw AS (SELECT source, cap,
           CAST(round(sqrt(CAST(cap AS DOUBLE)) * 1000000) AS BIGINT) AS wl
         FROM per),
       wfr AS (SELECT *,
           CAST(cap AS DOUBLE) / (CAST(wl AS DOUBLE) / 1000000) AS r
         FROM wfw),
       wft AS (SELECT CAST(sum(cap) AS BIGINT) AS tc,
           CAST(sum(wl) AS BIGINT) AS twl FROM wfr),
       wff AS (SELECT wfr.*, tc, twl, tc * 19 // 20 AS budget,
           CAST(coalesce(sum(cap) OVER (ORDER BY r ASC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cprev,
           CAST(coalesce(sum(wl) OVER (ORDER BY r ASC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS wlprev
         FROM wfr CROSS JOIN wft),
       wfg AS (SELECT *,
           CAST(budget - cprev AS DOUBLE)
             / (CAST(twl - wlprev AS DOUBLE) / 1000000) >= r AS capped
         FROM wff),
       wfl AS (SELECT
           CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0)
             AS BIGINT) AS ccap,
           CAST(coalesce(sum(CASE WHEN capped THEN wl END), 0)
             AS BIGINT) AS cwl FROM wfg),
       wf AS (SELECT source, cap, CAST(wl AS DOUBLE) / 1000000 AS weight,
           CASE WHEN capped THEN CAST(cap AS DOUBLE)
             ELSE CAST(budget - ccap AS DOUBLE)
               / (CAST(twl - cwl AS DOUBLE) / 1000000)
               * (CAST(wl AS DOUBLE) / 1000000) END AS allocation,
           capped
         FROM wfg CROSS JOIN wfl)"""

  /** DuckDB hash helper fragment: integer of 8 md5 hex digits of
    * "<seed>:<s>" starting at `hexStart` — mirror of Dedup.hash64
    * (slice 1) and the second slice feeding simhash bits 32+. */
  private def duckHashAt(seedExpr: String, sExpr: String, hexStart: Int): String =
    s"CAST(('0x' || substr(md5($seedExpr || ':' || $sExpr), $hexStart, 8)) AS BIGINT)"

  private def duckHash(seedExpr: String, sExpr: String): String =
    duckHashAt(seedExpr, sExpr, 1)

  private val enStops = TextAnalysis.enStopwords.map(w => s"'$w'").mkString(", ")
  private val xxStops = TextAnalysis.xxStopwords.map(w => s"'$w'").mkString(", ")

  /** q213/q214/q221's static oracle chain: [[graft.ml.LinearClassifier]]'s
    * training rounds unrolled as chained CTEs, generated so the
    * per-round expression trees are mechanically identical to the
    * Scala plan (same left-assoc z, same Elliott link, same per-term
    * round→LONG gradient folds, same `w − g/10⁶/n·lr` update) —
    * nothing frozen, the q151 discipline. Ends in a relation
    * `scored(doc_id, score, pred, label)`. `trainRel`/`scoreWhere`
    * carve the q44 hash split for the held-out eval (q221): training
    * folds read `ftr` (u < 0.8), scoring filters to the held-out
    * rows. */
  private def classifierCtes(trainRel: String = "f",
      scoreWhere: String = ""): String = {
    // z under the weights of CTE `w`: same fold order as
    // LinearClassifier.zOf — ((w0 + w1*sr) + w2*pr) + w3*flen
    def z(w: String): String =
      s"(SELECT w0 FROM $w) + (SELECT w1 FROM $w) * sr + " +
        s"(SELECT w2 FROM $w) * pr + (SELECT w3 FROM $w) * flen"
    // MATERIALIZED: every weight feeds the next round through scalar
    // subqueries referenced many times; inlined CTEs would re-derive
    // the whole training chain per reference (exponential in rounds)
    def rnd(r: Int, wPrev: String): String = {
      val zz = z(wPrev)
      def g(i: Int, term: String) =
        s"CAST(sum(CAST(round(r $term 1000000) AS BIGINT)) AS BIGINT) AS g$i"
      s"""s$r AS MATERIALIZED (SELECT sr, pr, flen,
             0.5 + ($zz) / (2.0 * (1.0 + abs($zz))) - y AS r
           FROM $trainRel),
         g$r AS MATERIALIZED (SELECT count(*) AS n,
             ${g(0, "*")},
             ${g(1, "* sr *")},
             ${g(2, "* pr *")},
             ${g(3, "* flen *")}
           FROM s$r),
         w$r AS MATERIALIZED (SELECT
             ${(0 to 3).map(i =>
               s"(SELECT w$i FROM $wPrev) - CAST(g$i AS DOUBLE) " +
                 s"/ 1000000.0 / n * $ClfLr AS w$i")
               .mkString(",\n             ")}
           FROM g$r)"""
    }
    val zF = z(s"w$ClfRounds")
    val rounds = (1 to ClfRounds)
      .map(r => rnd(r, s"w${r - 1}")).mkString(",\n       ")
    val ftr =
      if (trainRel == "f") ""
      else s""",
       $trainRel AS MATERIALIZED (SELECT * FROM f WHERE u < 0.8)"""
    s"""clf_base AS (
         SELECT doc_id, string_split(lower(text), ' ') AS t,
           length(text) AS n_ch,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
             AS n_punct
         FROM documents),
       f0 AS MATERIALIZED (SELECT doc_id,
           CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
             AS DOUBLE) / len(t) AS sr,
           CAST(n_punct AS DOUBLE) / n_ch AS pr,
           least(len(t) / 100.0, 1.0) AS flen,
           CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) / 4294967296.0 AS u
         FROM clf_base),
       f AS MATERIALIZED (SELECT *,
           CASE WHEN sr * 0.5 + (1.0 - pr) * 0.3 + flen * 0.2 > 0.44
             THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
         FROM f0)$ftr,
       w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
           CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3),
       $rounds,
       scored AS MATERIALIZED (SELECT doc_id,
         0.5 + ($zF) / (2.0 * (1.0 + abs($zF))) AS score,
         CASE WHEN 0.5 + ($zF) / (2.0 * (1.0 + abs($zF))) > 0.5
           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred,
         CAST(y AS BIGINT) AS label
       FROM f $scoreWhere)"""
  }

  private val classifierOracleSql: String =
    s"""WITH ${classifierCtes()}
       SELECT doc_id, score, pred, label FROM scored ORDER BY doc_id"""

  /** q214's oracle: the same training replay, then the exact
    * average-rank Mann–Whitney AUC and the 0.5-threshold confusion —
    * every count and rank sum an exact BIGINT, AUC and accuracy each
    * ONE division of exact ints. q221 runs the identical eval over
    * the held-out carve of the same chain (train CTEs read only the
    * u < 0.8 slice, `scored` only the rest). */
  private def classifierAucSqlOver(ctes: String): String =
    s"""WITH $ctes,
       sg AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(label) AS BIGINT) AS npos
         FROM scored GROUP BY 1),
       sc AS (SELECT *,
           CAST(coalesce(sum(n) OVER (ORDER BY score ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum
         FROM sg),
       a AS (SELECT
           CAST(sum(npos * (2 * cum + n + 1)) AS BIGINT) AS r2pos,
           CAST(sum(npos) AS BIGINT) AS n_pos,
           CAST(sum(n - npos) AS BIGINT) AS n_neg
         FROM sc),
       c AS (SELECT
           CAST(sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
           CAST(sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
           CAST(sum(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS tn,
           CAST(sum(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS fn
         FROM scored)
       SELECT tp, fp, tn, fn, n_pos, n_neg,
         CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE)
           / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc,
         CAST(tp + tn AS DOUBLE)
           / CAST(tp + fp + tn + fn AS DOUBLE) AS accuracy
       FROM c CROSS JOIN a"""

  private val classifierAucOracleSql: String =
    classifierAucSqlOver(classifierCtes())

  /** q238's oracle: the same training replay, then the decile
    * reliability table — exact counts, micro-LONG score sums, each
    * mean ONE division of exact integers. */
  private val classifierCalibrationOracleSql: String =
    s"""WITH ${classifierCtes()},
       b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(label) AS BIGINT) AS n_pos,
           CAST(sum(CAST(round(score * 1000000) AS BIGINT)) AS BIGINT) AS sm
         FROM scored GROUP BY 1)
       SELECT bucket, n, n_pos,
         CAST(sm AS DOUBLE) / 1000000.0 / n AS mean_score,
         CAST(n_pos AS DOUBLE) / n AS pos_rate
       FROM b ORDER BY bucket"""

  private val classifierHoldoutOracleSql: String =
    classifierAucSqlOver(classifierCtes("ftr", "WHERE u >= 0.8"))

  /** Simhash expression over `bits` (≤ 32) bits, generated to mirror
    * Dedup.simhash; consumed by the q24 (16-bit) oracle only — q38's
    * 56-bit oracle builds its own two-slice terms in
    * [[simhashPairsSql]]. */
  private def simhashTerms(bits: Int): String = (0 until bits).map { j =>
    val bitSum = "list_sum(list_transform(t, tok -> CASE WHEN " +
      s"((${duckHash("'99'", "tok")} >> $j) & 1) = 1 THEN 1 ELSE -1 END))"
    s"(CASE WHEN $bitSum >= 0 THEN ${1 << j} ELSE 0 END)"
  }.mkString(" + ")

  private val simhashSql: String =
    s"""WITH toks AS (
         SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
       SELECT doc_id, ${simhashTerms(16)} AS simhash16 FROM toks"""

  /** q38 oracle: banded simhash near-dup pairs — mirrors
    * Dedup.simhashNearDupPairs at 56 bits (4 bands x 14 bits, hamming
    * <= 3, maxBucket cap included). Bits 0-31 read md5 hex digits 1-8,
    * bits 32+ digits 9-16 — the two digest slices the native
    * expression uses. The `th` CTE computes both slices ONCE per token
    * (a per-bit md5 would cost 112 digests per token). */
  private val simhashPairsSql: String = {
    val terms = (0 until 56).map { j =>
      val (slice, shift) = if (j < 32) ("h[1]", j) else ("h[2]", j - 32)
      val bitSum = "list_sum(list_transform(hs, h -> CASE WHEN " +
        s"(($slice >> $shift) & 1) = 1 THEN 1 ELSE -1 END))"
      s"(CASE WHEN $bitSum >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
         SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       th AS (
         SELECT doc_id, list_transform(t, tok ->
           [${duckHashAt("'99'", "tok", 1)},
            ${duckHashAt("'99'", "tok", 9)}]) AS hs
         FROM toks),
       sims AS (
         SELECT doc_id, $terms AS sig FROM th),
       bands AS (
         SELECT doc_id, sig, b, (sig >> (14 * b)) & 16383 AS bv
         FROM sims, range(4) rb(b)),
       bsize AS (
         SELECT b, bv, count(*) AS n FROM bands GROUP BY b, bv),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           a.sig AS sa, b2.sig AS sb
         FROM bands a JOIN bands b2
           ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
         JOIN bsize s ON a.b = s.b AND a.bv = s.bv
         WHERE s.n BETWEEN 2 AND 10000)
       SELECT doc_a, doc_b,
         CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       ORDER BY doc_a, doc_b"""
  }

  /** q23's signing chain (tokens → shingle sets → 8 md5-slice
    * minhashes → "_"-joined 2-row band keys) as reusable CTE bodies —
    * shared by the q23, q108 (persistent index probe), and q109
    * (canonical policy) oracles. */
  private val minhashBandCtes: String =
    s"""toks AS (
         SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
         FROM toks WHERE len(t) >= 3),
       mh AS (
         SELECT doc_id, k,
           min(CAST(('0x' || substr(md5((k // 4)::VARCHAR || ':' || sh_el),
             1 + 8 * (k % 4), 8)) AS BIGINT)) AS h
         FROM sh, range(8) rk(k), unnest(s) AS u(sh_el)
         GROUP BY doc_id, k),
       bands AS (
         SELECT doc_id, k // 2 AS band,
           string_agg(h::VARCHAR, '_' ORDER BY k) AS key
         FROM mh GROUP BY doc_id, k // 2)"""

  private val minhashSql: String =
    s"""WITH $minhashBandCtes,
       bsize AS (
         SELECT band, key, count(*) AS n FROM bands GROUP BY band, key),
       cand AS (
         -- mirrors lshCandidates' maxBucket=10000 degenerate-bucket cap
         -- (and its >=2 bucket floor): a corpus with a pathological band
         -- key must diverge from the Spark result in NEITHER engine
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         JOIN bsize s ON a.band = s.band AND a.key = s.key
         WHERE s.n BETWEEN 2 AND 10000),
       verified AS (
         SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.s, sb.s)) * 1.0
             / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
         FROM cand c
         JOIN sh sa ON c.doc_a = sa.doc_id
         JOIN sh sb ON c.doc_b = sb.doc_id)
       SELECT doc_a, doc_b, jaccard FROM verified
       WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b"""

  val oracles: Map[String, String] = Map(
    "q213_quality_classifier" -> classifierOracleSql,
    "q214_classifier_auc" -> classifierAucOracleSql,
    "q221_classifier_holdout" -> classifierHoldoutOracleSql,
    "q238_calibration" -> classifierCalibrationOracleSql,
    "q217_lm_xent" ->
      // q77's LM CTEs verbatim, then the per-doc fold: each in-vocab
      // bigram's logp per-term-rounds to an exact LONG (q199's ln
      // discipline), xent = one fixed expression over exact ints
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
           FROM documents),
         bgs AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
             i -> t[i+1] || ' ' || t[i+2])) AS bg
           FROM toks WHERE len(t) >= 2),
         cnt AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY 1),
         pref AS (SELECT string_split(bg, ' ')[1] AS w1,
                    CAST(sum(c12) AS BIGINT) AS c1
                  FROM cnt GROUP BY 1),
         r AS (SELECT bg, c12, row_number() OVER
                 (ORDER BY c12 DESC, bg) AS rn FROM cnt),
         vocab AS (SELECT r.bg,
                     ln(CAST(r.c12 AS DOUBLE) / p.c1) AS logp
                   FROM r JOIN pref p
                     ON string_split(r.bg, ' ')[1] = p.w1
                   WHERE r.rn <= 512),
         agg AS (SELECT b.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(CASE WHEN v.logp IS NULL THEN 1 END)
               AS BIGINT) AS n_oov,
             CAST(sum(CAST(round(v.logp * 1000000) AS BIGINT))
               AS BIGINT) AS slp
           FROM bgs b LEFT JOIN vocab v USING (bg) GROUP BY 1)
         SELECT doc_id, n_bigrams, n_oov,
           CASE WHEN n_bigrams > n_oov THEN
             -(CAST(slp AS DOUBLE) / 1000000.0 / (n_bigrams - n_oov))
           END AS xent
         FROM agg ORDER BY doc_id""",
    "q18_token_stats" ->
      s"""SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_ws_tokens,
         len(regexp_extract_all(lower(text),
           '${TextAnalysis.wordTokenPattern}')) AS n_word_tokens
         FROM documents""",
    "q19_quality_score" ->
      s"""WITH base AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         r AS (
           SELECT doc_id, len(t) AS n_tokens,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
               AS DOUBLE) / len(t) AS sr,
             CAST(n_punct AS DOUBLE) / n_ch AS pr
           FROM base)
         SELECT doc_id, n_tokens, sr AS stop_ratio, pr AS punct_ratio,
           sr * CAST(0.5 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - pr) * CAST(0.3 AS DOUBLE)
             + least(n_tokens / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
               * CAST(0.2 AS DOUBLE) AS quality_score
         FROM r""",
    "q20_language_id" ->
      s"""WITH scored AS (
           SELECT lang,
             len(list_filter(string_split(lower(text), ' '),
               x -> list_contains([$enStops], x))) AS en_hits,
             len(list_filter(string_split(lower(text), ' '),
               x -> list_contains([$xxStops], x))) AS xx_hits
           FROM documents)
         SELECT lang,
           CASE WHEN en_hits > xx_hits AND en_hits >= 2 THEN 'en'
                WHEN xx_hits > en_hits AND xx_hits >= 2 THEN 'xx'
                ELSE 'und' END AS lang_pred,
           count(*) AS n_docs
         FROM scored GROUP BY 1, 2 ORDER BY 1, 2""",
    "q21_fingerprint" ->
      """SELECT doc_id,
         CAST(('0x' || substr(md5(lower(text)), 1, 15)) AS BIGINT) AS fp
         FROM documents""",
    "q22_dedup_exact_docs" ->
      """WITH corpus AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT source, text FROM documents WHERE doc_id % 50 = 0)
         SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique_texts
         FROM corpus GROUP BY 1 ORDER BY 1""",
    "q23_minhash_lsh_pairs" -> minhashSql,
    "q24_simhash" -> simhashSql,
    "q38_simhash_neardup" -> simhashPairsSql,
    "q39_cap_per_source" ->
      """SELECT doc_id, source, rank_in_source FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS INTEGER) AS rank_in_source
           FROM documents)
         WHERE rank_in_source <= 15
         ORDER BY source, rank_in_source""",
    "q40_token_budget" ->
      """SELECT doc_id, source, n_tokens, cum_tokens FROM (
           SELECT doc_id, source,
             len(string_split(lower(text), ' ')) AS n_tokens,
             CAST(sum(len(string_split(lower(text), ' ')))
               OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM documents)
         WHERE cum_tokens <= 2000
         ORDER BY source, cum_tokens""",
    "q43_mix_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) / 4294967296.0
           < (CAST(substr(source, 4) AS INTEGER) % 4 + 1) / 5.0
         ORDER BY doc_id""",
    "q44_dataset_split" ->
      """SELECT doc_id, source,
         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
              ELSE 'test' END AS split
         FROM (
           SELECT doc_id, source,
             CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0 AS u
           FROM documents)
         ORDER BY doc_id""",
    "q222_weighted_sample" -> {
      // E-S weighted sample replay: identical md5 uniforms, identical
      // max-of-w key, identical (skey desc, doc_id) top-8 per source
      val terms = (1 to 4).map { j =>
        val u = duckHash(s"'ws$j'", "CAST(doc_id AS VARCHAR)") +
          " / 4294967296.0"
        if (j == 1) u else s"CASE WHEN w >= $j THEN $u ELSE -1.0 END"
      }.mkString(",\n           ")
      s"""WITH d AS (
           SELECT doc_id, source,
             CAST(1 + CASE WHEN length(text) > 175 THEN 1 ELSE 0 END
                    + CASE WHEN length(text) > 300 THEN 1 ELSE 0 END
                    + CASE WHEN length(text) > 420 THEN 1 ELSE 0 END
               AS BIGINT) AS w
           FROM documents),
         k AS (SELECT source, doc_id, w, greatest(
           $terms) AS skey FROM d),
         r AS (SELECT *, row_number() OVER (
                 PARTITION BY source ORDER BY skey DESC, doc_id ASC) AS rn
               FROM k)
         SELECT source, doc_id, w, skey FROM r WHERE rn <= 8
         ORDER BY source, doc_id"""
    },
    "q45_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_transform(range(len(t) - 7),
             i -> array_to_string(t[i+1:i+8], ' '))) AS g8
           FROM toks WHERE len(t) >= 8),
         bench AS (
           SELECT g8, doc_id AS bench_id FROM sh WHERE doc_id % 10 = 0),
         corpus AS (
           SELECT doc_id, g8 FROM sh WHERE doc_id % 10 <> 0)
         SELECT c.doc_id,
           count(DISTINCT c.g8) AS n_shared_8grams,
           count(DISTINCT b.bench_id) AS n_bench_docs
         FROM corpus c JOIN bench b USING (g8)
         GROUP BY 1 ORDER BY 1""",
    "q72_decontam_bloom" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_transform(range(len(t) - 7),
             i -> array_to_string(t[i+1:i+8], ' '))) AS g8
           FROM toks WHERE len(t) >= 8),
         bench AS (
           SELECT DISTINCT g8 FROM sh WHERE doc_id % 10 = 0),
         contaminated AS (
           SELECT DISTINCT doc_id FROM sh
           WHERE doc_id % 10 <> 0 AND g8 IN (SELECT g8 FROM bench))
         SELECT doc_id, source FROM documents
         WHERE doc_id % 10 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         ORDER BY doc_id""",
    "q59_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS n_td
                FROM toks GROUP BY 1, 2),
         len AS (SELECT doc_id, sum(n_td) AS len_d FROM tf GROUP BY 1),
         dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT tf.doc_id, tf.term,
           (tf.n_td / CAST(len.len_d AS DOUBLE)) *
             (ln((n.n_docs + 1) / CAST(dft.df_t + 1 AS DOUBLE)) + 1.0)
             AS tfidf
           FROM tf JOIN len USING (doc_id) JOIN dft USING (term)
           CROSS JOIN n),
         r AS (SELECT doc_id, term, tfidf, row_number() OVER
                 (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
               FROM s)
         SELECT doc_id, term, tfidf, rnk FROM r
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q60_bm25_topterms" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS n_td
                FROM toks GROUP BY 1, 2),
         len AS (SELECT doc_id, sum(n_td) AS len_d FROM tf GROUP BY 1),
         dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         a AS (SELECT CAST(sum(len_d) AS DOUBLE) / count(*) AS avg_len
               FROM len),
         s AS (SELECT tf.doc_id, tf.term,
           ln((n.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5) + 1.0) *
             ((tf.n_td * (1.2 + 1)) / (tf.n_td + 1.2 *
               (1.0 - 0.75 + 0.75 * len.len_d / a.avg_len))) AS bm25
           FROM tf JOIN len USING (doc_id) JOIN dft USING (term)
           CROSS JOIN n CROSS JOIN a),
         r AS (SELECT doc_id, term, bm25, row_number() OVER
                 (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rnk
               FROM s)
         SELECT doc_id, term, bm25, rnk FROM r
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q67_seq_pack" ->
      // single-window cumsum per stream — the distributed two-pass
      // cumulative sum must be value-identical (q40 pins the same
      // technique per source); sums CAST to BIGINT per the HUGEINT rule
      """WITH d AS (SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
           FROM documents),
         b AS (SELECT doc_id, n_tokens, ord,
           CAST(('0x' || substr(ord, 1, 2)) AS INTEGER) AS stream FROM d),
         c AS (SELECT doc_id, stream, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY stream
             ORDER BY ord, doc_id) - n_tokens AS BIGINT) AS strt
           FROM b)
         SELECT doc_id, stream, n_tokens,
           CAST(strt // 512 AS BIGINT) AS seq_index,
           CAST(strt % 512 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""",
    "q68_unigram_oov" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS term FROM documents),
         tot AS (SELECT count(*) AS total FROM toks),
         cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
         r AS (SELECT term, c, row_number() OVER
                 (ORDER BY c DESC, term) AS rn FROM cnt),
         vocab AS (SELECT term, ln(CAST(c AS DOUBLE) / total) AS logp
                   FROM r CROSS JOIN tot WHERE rn <= 256)
         SELECT t.doc_id, count(*) AS n_tokens,
           count(CASE WHEN v.logp IS NULL THEN 1 END) AS n_oov,
           CAST(count(CASE WHEN v.logp IS NULL THEN 1 END) AS DOUBLE)
             / count(*) AS oov_frac,
           min(v.logp) AS min_logp
         FROM toks t LEFT JOIN vocab v USING (term)
         GROUP BY 1 ORDER BY 1""",
    "q25_ngram_jaccard_pairs" ->
      """WITH d AS (
           SELECT doc_id, n_chars // 50 AS bucket,
             list_distinct(list_transform(range(len(string_split(lower(text), ' '))-1),
               i -> string_split(lower(text), ' ')[i+1] || ' '
                 || string_split(lower(text), ' ')[i+2])) AS s
           FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 2)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.s, b.s)) * 1.0
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         FROM d a JOIN d b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.s, b.s)) * 1.0
           / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
         ORDER BY doc_a, doc_b""",
    "q234_stream_decontaminate" ->
      // the gate's census rebuilt relationally: fp NOT IN the
      // benchmark fingerprint set (fingerprints are never null)
      """WITH fp AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5(lower(text)), 1, 15)) AS BIGINT)
               AS fp
           FROM documents),
         bench AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 = 0)
         SELECT source, count(*) AS n_clean
         FROM fp WHERE fp NOT IN (SELECT fp FROM bench)
         GROUP BY 1 ORDER BY 1""",
    "q232_gopher_rules" ->
      // every rule in exact integer arithmetic (cross-multiplied
      // ratio comparisons), mirroring the Scala expressions
      s"""WITH d AS (
           SELECT source, string_split(lower(text), ' ') AS t
           FROM documents),
         f AS (SELECT source,
           CAST(len(t) AS BIGINT) AS nw,
           CAST(list_sum(list_transform(t, w -> length(w)))
             AS BIGINT) AS sumlen,
           CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
             AS BIGINT) AS nalpha,
           CAST(len(list_filter(t, w -> regexp_matches(w, '^[^a-z0-9]+$$')))
             AS BIGINT) AS nsym,
           CAST(len(list_filter(t, w -> list_contains([$enStops], w)))
             AS BIGINT) AS nstop
         FROM d),
         r AS (SELECT source,
           CASE WHEN nw < 50 OR nw > 100000 THEN 1 ELSE 0 END AS f_wc,
           CASE WHEN sumlen < 3 * nw OR sumlen > 10 * nw
             THEN 1 ELSE 0 END AS f_mwl,
           CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS f_stop,
           CASE WHEN 5 * nalpha < 4 * nw THEN 1 ELSE 0 END AS f_alpha,
           CASE WHEN 10 * nsym > nw THEN 1 ELSE 0 END AS f_sym
         FROM f)
         SELECT source, count(*) AS n_docs,
           CAST(sum(f_wc) AS BIGINT) AS n_fail_wordcount,
           CAST(sum(f_mwl) AS BIGINT) AS n_fail_meanlen,
           CAST(sum(f_stop) AS BIGINT) AS n_fail_stopwords,
           CAST(sum(f_alpha) AS BIGINT) AS n_fail_alpha,
           CAST(sum(f_sym) AS BIGINT) AS n_fail_symbol,
           CAST(sum(CASE WHEN f_wc + f_mwl + f_stop + f_alpha + f_sym = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         FROM r GROUP BY 1 ORDER BY 1""",
    "q228_matryoshka_recall" -> {
      // per width: the q26 kernel over sliced lists; recall = one
      // division of exact hit counts against the full-dim truth
      def cos(a: String, b: String) =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
          s"sqrt(list_dot_product($b, $b)))"
      def top(rel: String, qv: String, cv: String) =
        s"""(SELECT q_id, neighbor_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 ${cos(qv, cv)} DESC, c.vec_id ASC) AS rn
             FROM $rel q JOIN $rel c ON q.vec_id < 5 AND c.vec_id >= 5)
           WHERE rn <= 3)"""
      val sys = Seq(8, 16, 32).map(d =>
        s"""r$d AS (SELECT CAST($d AS BIGINT) AS dim,
             CAST(count(*) AS BIGINT) AS n_hits
           FROM ${top("e", s"q.v[1:$d]", s"c.v[1:$d]")} s
           JOIN gt USING (q_id, neighbor_id))""").mkString(",\n         ")
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         gt AS MATERIALIZED (
           SELECT * FROM ${top("e", "q.v", "c.v")}),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM gt),
         $sys
         SELECT dim, n_hits, n_truth,
           CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall_at_3
         FROM (SELECT * FROM r8 UNION ALL SELECT * FROM r16
               UNION ALL SELECT * FROM r32)
         CROSS JOIN tot ORDER BY dim"""
    },
    "q26_knn_cosine_brute" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 5),
         scored AS (
           SELECT q_id, neighbor_id,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
               neighbor_id ASC) AS rn
           FROM q CROSS JOIN c)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q154_label_split_census" ->
      """SELECT label, split, count(*) AS n_vecs FROM (
           SELECT label,
             CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
                  ELSE 'test' END AS split
           FROM (
             SELECT label,
               CAST(('0x' || substr(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) / 4294967296.0 AS u
             FROM embeddings))
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q153_anisotropy" ->
      // q151's chain + a projection pass, a lambda fold, and a trace
      // fold — all per-term-rounded exact LONGs
      """WITH ex AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS x
           FROM embeddings),
         mu AS (
           SELECT dim,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(*) AS mu
           FROM ex GROUP BY 1),
         cx AS (
           SELECT e.vec_id, e.dim, e.x - m.mu AS cx
           FROM ex e JOIN mu m ON e.dim = m.dim),
         v0 AS (SELECT dim, CAST(0.125 AS DOUBLE) AS vv FROM mu),
         s1 AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v0 v ON c.dim = v.dim GROUP BY 1),
         w1 AS (
           SELECT c.dim,
             CAST(sum(CAST(round(s.s * c.cx * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS w
           FROM cx c JOIN s1 s ON c.vec_id = s.vec_id GROUP BY 1),
         n1 AS (
           SELECT sqrt(CAST(sum(CAST(round(w * w * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0) AS norm FROM w1),
         v1 AS (SELECT dim, w / (SELECT norm FROM n1) AS vv FROM w1),
         s2 AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v1 v ON c.dim = v.dim GROUP BY 1),
         w2 AS (
           SELECT c.dim,
             CAST(sum(CAST(round(s.s * c.cx * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS w
           FROM cx c JOIN s2 s ON c.vec_id = s.vec_id GROUP BY 1),
         n2 AS (
           SELECT sqrt(CAST(sum(CAST(round(w * w * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0) AS norm FROM w2),
         v2 AS (SELECT dim, w / (SELECT norm FROM n2) AS vv FROM w2),
         s3 AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v2 v ON c.dim = v.dim GROUP BY 1),
         w3 AS (
           SELECT c.dim,
             CAST(sum(CAST(round(s.s * c.cx * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS w
           FROM cx c JOIN s3 s ON c.vec_id = s.vec_id GROUP BY 1),
         n3 AS (
           SELECT sqrt(CAST(sum(CAST(round(w * w * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0) AS norm FROM w3),
         v3 AS (SELECT dim, w / (SELECT norm FROM n3) AS vv FROM w3),
         proj AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v3 v ON c.dim = v.dim GROUP BY 1),
         lam AS (
           SELECT CAST(sum(CAST(round(s * s * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0 AS lsum FROM proj),
         tr AS (
           SELECT CAST(sum(CAST(round(cx * cx * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0 AS tsum FROM cx),
         nn AS (SELECT count(*) AS n FROM embeddings)
         SELECT nn.n,
           tr.tsum / nn.n AS total_var,
           lam.lsum / nn.n AS lambda1,
           lam.lsum / tr.tsum AS anisotropy
         FROM nn, lam, tr""",
    "q152_bpe_apply" ->
      // two unrolled merge rounds; leftmost-non-overlap via
      // gaps-and-islands over candidate positions (odd ranks kept)
      """WITH vocab AS (
           SELECT word, count(*) AS freq FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS word
             FROM documents)
           WHERE length(word) > 0 GROUP BY 1),
         state0 AS (
           SELECT word, freq,
             generate_subscripts(string_split(word, ''), 1) - 1 AS pos,
             unnest(string_split(word, '')) AS sym
           FROM vocab),
         adj1 AS (
           SELECT word, freq, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           FROM state0),
         best1 AS (
           SELECT sym AS a, nxt AS b FROM adj1 WHERE nxt IS NOT NULL
           GROUP BY 1, 2 ORDER BY sum(freq) DESC, a, b LIMIT 1),
         cand1 AS (
           SELECT s.word, s.pos,
             row_number() OVER (PARTITION BY s.word ORDER BY s.pos) AS rn
           FROM adj1 s, best1 b WHERE s.sym = b.a AND s.nxt = b.b),
         keep1 AS (
           SELECT word, pos FROM (
             SELECT word, pos, row_number() OVER (
               PARTITION BY word, pos - rn ORDER BY pos) AS k
             FROM cand1) WHERE k % 2 = 1),
         state1 AS (
           SELECT s.word, s.freq,
             row_number() OVER (PARTITION BY s.word ORDER BY s.pos) - 1
               AS pos,
             CASE WHEN st.pos IS NOT NULL THEN b.a || b.b
                  ELSE s.sym END AS sym
           FROM state0 s
           CROSS JOIN best1 b
           LEFT JOIN keep1 st ON s.word = st.word AND s.pos = st.pos
           LEFT JOIN keep1 cn ON s.word = cn.word AND s.pos = cn.pos + 1
           WHERE cn.pos IS NULL),
         adj2 AS (
           SELECT word, freq, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           FROM state1),
         best2 AS (
           SELECT sym AS a, nxt AS b FROM adj2 WHERE nxt IS NOT NULL
           GROUP BY 1, 2 ORDER BY sum(freq) DESC, a, b LIMIT 1),
         cand2 AS (
           SELECT s.word, s.pos,
             row_number() OVER (PARTITION BY s.word ORDER BY s.pos) AS rn
           FROM adj2 s, best2 b WHERE s.sym = b.a AND s.nxt = b.b),
         keep2 AS (
           SELECT word, pos FROM (
             SELECT word, pos, row_number() OVER (
               PARTITION BY word, pos - rn ORDER BY pos) AS k
             FROM cand2) WHERE k % 2 = 1),
         state2 AS (
           SELECT s.word, s.freq,
             row_number() OVER (PARTITION BY s.word ORDER BY s.pos) - 1
               AS pos,
             CASE WHEN st.pos IS NOT NULL THEN b.a || b.b
                  ELSE s.sym END AS sym
           FROM state1 s
           CROSS JOIN best2 b
           LEFT JOIN keep2 st ON s.word = st.word AND s.pos = st.pos
           LEFT JOIN keep2 cn ON s.word = cn.word AND s.pos = cn.pos + 1
           WHERE cn.pos IS NULL),
         top AS (
           SELECT word FROM vocab ORDER BY freq DESC, word LIMIT 20)
         SELECT s.word, max(s.freq) AS freq,
           string_agg(s.sym, ' ' ORDER BY s.pos) AS seg
         FROM state2 s JOIN top t ON s.word = t.word
         GROUP BY s.word ORDER BY s.word""",
    "q151_pca_power" ->
      // three unrolled power iterations as chained CTEs; every
      // cross-row/dim sum per-term-rounds to an exact LONG first, so
      // nothing is frozen and the replay is bit-identical
      """WITH ex AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS x
           FROM embeddings),
         mu AS (
           SELECT dim,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(*) AS mu
           FROM ex GROUP BY 1),
         cx AS (
           SELECT e.vec_id, e.dim, e.x - m.mu AS cx
           FROM ex e JOIN mu m ON e.dim = m.dim),
         v0 AS (SELECT dim, CAST(0.125 AS DOUBLE) AS vv FROM mu),
         s1 AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v0 v ON c.dim = v.dim GROUP BY 1),
         w1 AS (
           SELECT c.dim,
             CAST(sum(CAST(round(s.s * c.cx * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS w
           FROM cx c JOIN s1 s ON c.vec_id = s.vec_id GROUP BY 1),
         n1 AS (
           SELECT sqrt(CAST(sum(CAST(round(w * w * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0) AS norm FROM w1),
         v1 AS (SELECT dim, w / (SELECT norm FROM n1) AS vv FROM w1),
         s2 AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v1 v ON c.dim = v.dim GROUP BY 1),
         w2 AS (
           SELECT c.dim,
             CAST(sum(CAST(round(s.s * c.cx * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS w
           FROM cx c JOIN s2 s ON c.vec_id = s.vec_id GROUP BY 1),
         n2 AS (
           SELECT sqrt(CAST(sum(CAST(round(w * w * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0) AS norm FROM w2),
         v2 AS (SELECT dim, w / (SELECT norm FROM n2) AS vv FROM w2),
         s3 AS (
           SELECT c.vec_id,
             CAST(sum(CAST(round(c.cx * v.vv * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS s
           FROM cx c JOIN v2 v ON c.dim = v.dim GROUP BY 1),
         w3 AS (
           SELECT c.dim,
             CAST(sum(CAST(round(s.s * c.cx * 1000000) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS w
           FROM cx c JOIN s3 s ON c.vec_id = s.vec_id GROUP BY 1),
         n3 AS (
           SELECT sqrt(CAST(sum(CAST(round(w * w * 1000000) AS BIGINT))
             AS DOUBLE) / 1000000.0) AS norm FROM w3)
         SELECT dim, w / (SELECT norm FROM n3) AS loading
         FROM w3 ORDER BY dim""",
    "q141_quantile_normalize" ->
      // q19's score expression; naive global + per-source windows;
      // idx = ceil(r*N/ns) in exact integer arithmetic
      s"""WITH base AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         r AS (
           SELECT doc_id, source, len(t) AS n_tokens,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
               AS DOUBLE) / len(t) AS sr,
             CAST(n_punct AS DOUBLE) / n_ch AS pr
           FROM base),
         scored AS (
           SELECT doc_id, source,
             sr * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - pr) * CAST(0.3 AS DOUBLE)
               + least(n_tokens / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.2 AS DOUBLE) AS score
           FROM r),
         g AS (
           SELECT score AS norm_score,
             row_number() OVER (ORDER BY score, doc_id) AS grk
           FROM scored),
         s AS (
           SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
               ORDER BY score, doc_id) AS rs,
             count(*) OVER (PARTITION BY source) AS ns,
             count(*) OVER () AS n
           FROM scored)
         SELECT s.doc_id, s.source, s.score, g.norm_score
         FROM s JOIN g ON (s.rs * s.n + s.ns - 1) // s.ns = g.grk
         ORDER BY s.doc_id""",
    "q137_array_funcs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT vec_id,
           len(v) AS dim,
           v[1] AS first_val,
           v[-1] AS last_val,
           list_max(v[1:8]) AS head_max,
           list_min(v[1:8]) AS head_min,
           CAST(list_position(v, list_max(v)) AS BIGINT) AS argmax_pos,
           list_sort(v[1:8])[1] AS head_sorted_first,
           list_contains(v, v[3]) AS contains_third
         FROM e ORDER BY vec_id""",
    "q138_sql_native_funcs" ->
      """SELECT vec_id,
           list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
             AS self_dot,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             AS norm
         FROM embeddings ORDER BY vec_id""",
    "q168_lm_quality" ->
      // identical top-V vocab (count desc, term asc), identical
      // add-one smoothing, per-token micro-nat rounding BEFORE the
      // doc sum (LONG arithmetic from there on)
      """WITH toks AS (SELECT doc_id,
             unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         tot AS (SELECT count(*) AS total FROM toks),
         vc AS (SELECT term, count(*) AS n FROM toks GROUP BY 1
                ORDER BY n DESC, term LIMIT 512),
         vstat AS (SELECT count(*) AS v FROM vc),
         vocab AS (SELECT term,
             CAST(round(ln((n + 1.0) / (total + v + 1)) * 1000000)
               AS BIGINT) AS lp
           FROM vc, tot, vstat),
         oov AS (SELECT
             CAST(round(ln(1.0 / (total + v + 1)) * 1000000)
               AS BIGINT) AS olp
           FROM tot, vstat)
         SELECT doc_id, count(*) AS n_tokens,
           count(CASE WHEN lp IS NULL THEN 1 END) AS n_oov,
           CAST(sum(coalesce(lp, olp)) AS BIGINT) AS sum_logp_micros,
           CAST(sum(coalesce(lp, olp)) AS BIGINT)
             / CAST(count(*) AS DOUBLE) AS avg_logp_micros
         FROM toks LEFT JOIN vocab USING (term), oov
         GROUP BY doc_id ORDER BY doc_id""",
    "q166_fuzzy_pairs" ->
      // identical blocking + identical edit-distance definition
      """WITH k AS (SELECT doc_id, lang,
             substr(text, 1, 40) AS key, substr(text, 1, 8) AS block
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.key, b.key) AS INT) AS edit_dist
         FROM k a JOIN k b
           ON a.lang = b.lang AND a.block = b.block
          AND a.doc_id < b.doc_id
         WHERE levenshtein(a.key, b.key) <= 12
         ORDER BY id_a, id_b""",
    "q184_jsonl_ingest" ->
      // identical ASCII line fixture (concatenation, no JSON
      // serializer), every 17th line truncated invalid; DuckDB's
      // REAL JSON parser decides validity exactly like from_json
      """WITH l AS (SELECT doc_id,
             '{"doc_id":' || doc_id || ',"lang":"' || lang ||
             '","n":' || length(text) || '}' AS line0
           FROM documents),
         c AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
                  THEN substr(line0, 1, length(line0) - 5)
                  ELSE line0 END AS line
           FROM l)
         SELECT doc_id,
           CAST(CASE WHEN json_valid(line) THEN 1 ELSE 0 END
             AS BIGINT) AS ok,
           CASE WHEN json_valid(line)
                THEN json_extract_string(line, '$.lang') END AS lang_out,
           CASE WHEN json_valid(line)
                THEN CAST(json_extract(line, '$.n') AS BIGINT)
             END AS n_out
         FROM c ORDER BY doc_id""",
    "q193_url_canonical" ->
      // identical byte fixture + every canonicalization step
      // mirrored in RE2 ('g' = Spark replace-all; anchored patterns
      // match at most once either way)
      """WITH u AS (SELECT doc_id,
             'HTTP://WWW.' || upper(source) || '.COM:80//docs//' ||
             CAST(doc_id % 50 AS VARCHAR) ||
             CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
             CASE WHEN doc_id % 3 = 0
                  THEN '?utm_source=feed&utm_medium=rss&page=' ||
                       CAST(doc_id % 4 AS VARCHAR)
                  WHEN doc_id % 3 = 1
                  THEN '?page=' || CAST(doc_id % 4 AS VARCHAR) ||
                       '&utm_campaign=x'
                  ELSE '' END ||
             CASE WHEN doc_id % 2 = 0
                  THEN '#sec-' || CAST(doc_id % 7 AS VARCHAR)
                  ELSE '' END AS raw_url
           FROM documents),
         c AS (SELECT doc_id, raw_url,
             (SELECT CASE
                 WHEN sh2 LIKE 'http://%'
                   THEN regexp_replace(sh2, ':80$', '')
                 WHEN sh2 LIKE 'https://%'
                   THEN regexp_replace(sh2, ':443$', '')
                 ELSE sh2 END ||
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                     regexp_replace(raw_url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                     '#.*$', ''),
                   '&utm_[^&]*', '', 'g'),
                 '\?utm_[^&]*&', '?'),
                 '\?utm_[^&]*$', ''),
                 '/{2,}', '/', 'g'),
                 '/\?', '?'),
                 '/$', '')
              FROM (SELECT lower(regexp_extract(raw_url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) AS sh2))
             AS canonical_url
           FROM u)
         SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS first_doc
         FROM c GROUP BY canonical_url ORDER BY canonical_url""",
    "q187_repeated_chunks" ->
      // q185's chunk fingerprints aggregated: distinct-doc count,
      // occurrences, widest token span, repeated-only
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         x AS (SELECT doc_id, toks,
             UNNEST(range(0, greatest(len(toks) - 1, 0) + 1, 48))
               AS start
           FROM t),
         ch AS (SELECT doc_id,
             CAST(len(list_slice(toks, start + 1, start + 64))
               AS BIGINT) AS n_toks,
             md5(array_to_string(
               list_slice(toks, start + 1, start + 64), ' '))
               AS chunk_md5
           FROM x)
         SELECT chunk_md5,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(n_toks) AS BIGINT) AS max_tokens
         FROM ch GROUP BY chunk_md5
         HAVING count(DISTINCT doc_id) >= 2
         ORDER BY chunk_md5""",
    "q162_html_strip" ->
      // identical chrome wrap + identical strip semantics (explicit
      // whitespace class, 'g' flag = Spark's replace-all default)
      """WITH h AS (SELECT doc_id,
             '<html><head><title>' || source ||
             '</title></head><body><nav><a href="/">home</a> &amp; ' ||
             '<a href="/about">about</a></nav><p>' || text ||
             '</p><footer>&copy; ' || source ||
             '</footer></body></html>' AS html
           FROM documents),
         c AS (SELECT doc_id, html,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(
                 regexp_replace(html, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&nbsp;', ' '), '&amp;', '&'),
               '[ \t\n\r]+', ' ', 'g')) AS cleaned
           FROM h)
         SELECT doc_id, length(cleaned) AS clean_chars,
           length(html) - length(cleaned) AS removed_chars,
           CAST(length(cleaned) AS DOUBLE) / length(html) AS retention
         FROM c ORDER BY doc_id""",
    "q161_audio_features" ->
      // closed forms of the square-wave features the REAL javax.sound
      // decode path must reproduce: rms=mean=peak=amp (recovered from
      // the [0,1]-normalized floats as round(f*32768)), crossings =
      // (n-1)//halfPeriod, n_bytes = 44-byte header + 2n PCM bytes
      """WITH p AS (SELECT doc_id AS media_id,
             4096 + (doc_id % 8) * 2048 AS amp,
             4 + doc_id % 5 AS hp,
             800 + (doc_id % 7) * 160 AS n
           FROM documents WHERE doc_id < 200)
         SELECT media_id, CAST(44 + 2 * n AS BIGINT) AS n_bytes,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(amp AS BIGINT) AS rms_amp,
           CAST(amp AS BIGINT) AS mean_amp,
           CAST(amp AS BIGINT) AS peak_amp,
           CAST((n - 1) // hp AS BIGINT) AS n_crossings
         FROM p ORDER BY media_id""",
    "q130_zipf_slope" ->
      // x=ln rank, y=ln count; per-term 1e-6 round -> exact LONG
      // sums; slope/intercept from the same closed forms
      """WITH toks AS (
           SELECT source, unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         counts AS (
           SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2),
         ranked AS (
           SELECT source, c,
             row_number() OVER (PARTITION BY source
               ORDER BY c DESC, term ASC) AS r
           FROM counts),
         xy AS (
           SELECT source, ln(CAST(r AS DOUBLE)) AS x,
                  ln(CAST(c AS DOUBLE)) AS y
           FROM ranked WHERE r <= 200),
         agg AS (
           SELECT source, count(*) AS n_terms,
             sum(CAST(round(x * 1000000) AS BIGINT)) AS sx,
             sum(CAST(round(y * 1000000) AS BIGINT)) AS sy,
             sum(CAST(round(x * y * 1000000) AS BIGINT)) AS sxy,
             sum(CAST(round(x * x * 1000000) AS BIGINT)) AS sxx
           FROM xy GROUP BY 1)
         SELECT source, n_terms,
           (CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000.0)
              - (CAST(sx AS DOUBLE) / 1000000.0)
                * (CAST(sy AS DOUBLE) / 1000000.0))
           / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000.0)
              - (CAST(sx AS DOUBLE) / 1000000.0)
                * (CAST(sx AS DOUBLE) / 1000000.0)) AS zipf_slope,
           ((CAST(sy AS DOUBLE) / 1000000.0)
              - ((CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000.0)
                  - (CAST(sx AS DOUBLE) / 1000000.0)
                    * (CAST(sy AS DOUBLE) / 1000000.0))
                 / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000.0)
                    - (CAST(sx AS DOUBLE) / 1000000.0)
                      * (CAST(sx AS DOUBLE) / 1000000.0)))
                * (CAST(sx AS DOUBLE) / 1000000.0))
             / CAST(n_terms AS DOUBLE) AS zipf_intercept
         FROM agg ORDER BY source""",
    "q128_topk_operator" ->
      // byte-identical contract to q26: the custom operator must
      // reproduce the window formulation's result set exactly
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 5),
         scored AS (
           SELECT q_id, neighbor_id,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
               neighbor_id ASC) AS rn
           FROM q CROSS JOIN c)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q27_ann_lsh_bucketed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
           FROM e),
         q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, v, bucket FROM b WHERE vec_id >= 5),
         scored AS (
           SELECT q_id, neighbor_id,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
               neighbor_id ASC) AS rn
           FROM q JOIN c USING (bucket)
           WHERE q_id <> neighbor_id)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q127_inbatch_negatives" ->
      // q97's naive-window permutation, batched by 8, all-to-all
      // minus self within each batch
      """WITH p AS (
           SELECT doc_id,
             row_number() OVER (
               ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS pos
           FROM documents),
         b AS (
           SELECT doc_id,
             CAST(floor((pos - 1) / 8) AS BIGINT) AS batch_id
           FROM p)
         SELECT a.batch_id, a.doc_id AS anchor_id, n.doc_id AS negative_id
         FROM b a JOIN b n ON a.batch_id = n.batch_id
           AND a.doc_id <> n.doc_id
         ORDER BY 1, 2, 3""",
    "q125_label_separation" ->
      // q112's float class: per-term 1e-6 round -> exact LONG sums;
      // centroids/ratios derive from those integers identically
      """WITH ex AS (
           SELECT label, vec_id,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding::DOUBLE[]) AS x
           FROM embeddings),
         cent AS (
           SELECT label, dim,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(*) AS cent
           FROM ex GROUP BY 1, 2),
         members AS (
           SELECT label, count(*) AS n_members FROM embeddings GROUP BY 1),
         intra AS (
           SELECT e.label,
             sum(CAST(round((e.x - c.cent) * (e.x - c.cent) * 1000000)
                 AS BIGINT)) AS intra_scaled
           FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
           GROUP BY 1),
         pairs AS (
           SELECT c1.label AS label, c2.label AS l2,
             sum(CAST(round((c1.cent - c2.cent) * (c1.cent - c2.cent)
                 * 1000000) AS BIGINT)) AS inter_scaled
           FROM cent c1 JOIN cent c2 ON c1.dim = c2.dim
             AND c1.label <> c2.label
           GROUP BY 1, 2),
         nearest AS (
           SELECT label, l2, inter_scaled,
             row_number() OVER (PARTITION BY label
               ORDER BY inter_scaled, l2) AS rn
           FROM pairs)
         SELECT m.label, m.n_members,
           CAST(i.intra_scaled AS DOUBLE) / 1000000.0 / m.n_members
             AS intra_msd,
           n.l2 AS nearest_label,
           CAST(n.inter_scaled AS DOUBLE) / 1000000.0 AS inter_sqdist,
           CAST(n.inter_scaled * m.n_members AS DOUBLE)
             / CAST(i.intra_scaled AS DOUBLE) AS sep_ratio
         FROM members m JOIN intra i ON m.label = i.label
         JOIN nearest n ON m.label = n.label AND n.rn = 1
         ORDER BY m.label""",
    "q123_nfc_normalize" ->
      // chr(769) = U+0301 COMBINING ACUTE: inject decomposed pairs,
      // then NFC must compose them back (length shrinks per pair)
      """WITH inj AS (
           SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t
           FROM documents)
         SELECT doc_id,
           length(t) AS n_injected,
           length(nfc_normalize(t)) AS n_nfc,
           nfc_normalize(t) AS text_nfc
         FROM inj ORDER BY doc_id""",
    "q122_ann_lsh_multiprobe" ->
      // q27's bucket scheme, but each query additionally probes the
      // bits buckets at Hamming distance 1 (b0 XOR one bit); a corpus
      // vector sits in one bucket, so pairs meet at most once
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
           FROM e),
         q AS (SELECT q_id, qv, xor(b0, m) AS bucket
               FROM (SELECT vec_id AS q_id, v AS qv, bucket AS b0
                     FROM b WHERE vec_id < 5)
               CROSS JOIN UNNEST([0, 1, 2, 4, 8, 16, 32]) AS t(m)),
         c AS (SELECT vec_id AS neighbor_id, v, bucket FROM b WHERE vec_id >= 5),
         scored AS (
           SELECT q_id, neighbor_id,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
               neighbor_id ASC) AS rn
           FROM q JOIN c USING (bucket)
           WHERE q_id <> neighbor_id)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q28_byte_stats" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         CAST(sum(strlen(text)) AS DOUBLE) / count(strlen(text)) AS avg_bytes
         FROM documents GROUP BY 1 ORDER BY 1""",
    // q30/q57/q58 oracles are GENERATED per scale factor (training is
    // iterative, so the trained model is frozen into the SQL as
    // literals — see AnnOracles); Verify merges them into
    // oracle_sql.json over this static map.
    "q29_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM e)
         SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           round(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine
         FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         WHERE list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))) >= 0.4
         ORDER BY vec_a, vec_b""",
    "q36_neardup_components" ->
      """WITH RECURSIVE
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM e),
         edges AS (
           SELECT x.vec_id AS a, y.vec_id AS b2
           FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
           WHERE list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))) >= 0.4),
         sym AS (SELECT a, b2 FROM edges UNION ALL SELECT b2 AS a, a AS b2 FROM edges),
         reach(node, root) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.b2, r.root FROM reach r JOIN sym s ON s.a = r.node)
         SELECT node AS vec_id, min(root) AS component
         FROM reach GROUP BY node ORDER BY node""",
    "q76_semantic_purge" ->
      // q29's pairs + q36's components, then the purge: every
      // component member EXCEPT its minimum id is deleted; survivors
      // read back (doc_id ↔ vec_id by construction of the test data)
      """WITH RECURSIVE
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM e),
         edges AS (
           SELECT x.vec_id AS a, y.vec_id AS b2
           FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
           WHERE list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))) >= 0.4),
         sym AS (SELECT a, b2 FROM edges UNION ALL SELECT b2 AS a, a AS b2 FROM edges),
         reach(node, root) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.b2, r.root FROM reach r JOIN sym s ON s.a = r.node),
         victims AS (
           SELECT node FROM (
             SELECT node, min(root) AS component FROM reach GROUP BY node)
           WHERE node <> component)
         SELECT d.doc_id, d.source FROM documents d
         WHERE d.doc_id NOT IN (SELECT node FROM victims)
         ORDER BY d.doc_id""",
    "q77_bigram_lm" ->
      // mirror of bigramLm: bigram stream, count tables, top-512 vocab
      // (count desc / bigram asc tie-break = topKPerGroup's), cond.
      // logp = ln(c12 / c(w1,·)) — both engines divide the same exact
      // integers, and ln(double) matches bitwise (q68 precedent)
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
           FROM documents),
         bgs AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
             i -> t[i+1] || ' ' || t[i+2])) AS bg
           FROM toks WHERE len(t) >= 2),
         cnt AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY 1),
         pref AS (SELECT string_split(bg, ' ')[1] AS w1,
                    CAST(sum(c12) AS BIGINT) AS c1
                  FROM cnt GROUP BY 1),
         r AS (SELECT bg, c12, row_number() OVER
                 (ORDER BY c12 DESC, bg) AS rn FROM cnt),
         vocab AS (SELECT r.bg,
                     ln(CAST(r.c12 AS DOUBLE) / p.c1) AS logp
                   FROM r JOIN pref p
                     ON string_split(r.bg, ' ')[1] = p.w1
                   WHERE r.rn <= 512)
         SELECT b.doc_id, count(*) AS n_bigrams,
           count(CASE WHEN v.logp IS NULL THEN 1 END) AS n_oov,
           CAST(count(CASE WHEN v.logp IS NULL THEN 1 END) AS DOUBLE)
             / count(*) AS oov_frac,
           min(v.logp) AS min_logp
         FROM bgs b LEFT JOIN vocab v USING (bg)
         GROUP BY 1 ORDER BY 1""",
    "q78_cross_source_neighbor" ->
      // q29's sign-LSH bucket join + the cross-source predicate, then
      // top-1 per doc by exact cosine (desc, neighbor asc tie-break)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         d AS (SELECT e.vec_id AS id, e.v, doc.source,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM e JOIN documents doc ON doc.doc_id = e.vec_id),
         scored AS (
           SELECT a.id AS doc_id, a.source,
             b.id AS neighbor_id, b.source AS neighbor_source,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos,
             row_number() OVER (PARTITION BY a.id
               ORDER BY list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) DESC,
                 b.id ASC) AS rn
           FROM d a JOIN d b ON a.bucket = b.bucket
             AND a.id <> b.id AND a.source <> b.source)
         SELECT doc_id, source, neighbor_id, neighbor_source,
           round(cos, 4) AS cosine
         FROM scored WHERE rn = 1 ORDER BY doc_id""",
    "q80_lexical_knn" ->
      // integer dot product (exact, order-free); one sqrt per doc and
      // one division per pair — both engines compute identical doubles
      """WITH toks AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS term FROM documents),
         cnt AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
         nrm AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
                 FROM cnt GROUP BY 1),
         dots AS (
           SELECT q.doc_id AS q_id, c.doc_id AS neighbor_id,
             CAST(sum(q.c * c.c) AS BIGINT) AS dot
           FROM cnt q JOIN cnt c USING (term)
           WHERE q.doc_id < 5 AND c.doc_id >= 5
           GROUP BY 1, 2),
         scored AS (
           SELECT q_id, neighbor_id,
             CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) DESC,
                 neighbor_id ASC) AS rn
           FROM dots
           JOIN nrm nq ON nq.doc_id = q_id
           JOIN nrm nc ON nc.doc_id = neighbor_id)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q81_hybrid_rrf" ->
      // lexical top-50 (q80's exact integer cosine) + dense top-50
      // (q26's embedding cosine) fused as sum of 1/(60+rank); ranks
      // are identical small integers on both engines, reciprocals one
      // IEEE division each, IEEE addition commutative → identical bits
      """WITH toks AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS term FROM documents),
         cnt AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
         nrm AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
                 FROM cnt GROUP BY 1),
         dots AS (
           SELECT q.doc_id AS q_id, c.doc_id AS neighbor_id,
             CAST(sum(q.c * c.c) AS BIGINT) AS dot
           FROM cnt q JOIN cnt c USING (term)
           WHERE q.doc_id < 5 AND c.doc_id >= 5
           GROUP BY 1, 2),
         lex AS (
           SELECT q_id, neighbor_id, rl FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) DESC,
                   neighbor_id ASC) AS rl
             FROM dots
             JOIN nrm nq ON nq.doc_id = q_id
             JOIN nrm nc ON nc.doc_id = neighbor_id)
           WHERE rl <= 50),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         dense AS (
           SELECT q_id, neighbor_id, rd FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))) DESC,
                   c.vec_id ASC) AS rd
             FROM e q CROSS JOIN e c
             WHERE q.vec_id < 5 AND c.vec_id >= 5)
           WHERE rd <= 50),
         fused AS (
           SELECT q_id, neighbor_id,
             coalesce(CAST(1 AS DOUBLE) / (60 + l.rl), 0)
               + coalesce(CAST(1 AS DOUBLE) / (60 + d.rd), 0) AS rrf
           FROM lex l FULL OUTER JOIN dense d USING (q_id, neighbor_id)),
         top AS (
           SELECT q_id, neighbor_id, rrf, row_number() OVER
             (PARTITION BY q_id ORDER BY rrf DESC, neighbor_id ASC) AS rn
           FROM fused)
         SELECT q_id, neighbor_id, round(rrf, 6) AS rrf
         FROM top WHERE rn <= 5 ORDER BY q_id, neighbor_id""",
    "q82_hard_negatives" ->
      // dense top-20 ANTI lexical top-10 per query — rank-only set
      // algebra, no score arithmetic crosses the engine boundary
      """WITH toks AS (SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS term FROM documents),
         cnt AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
         nrm AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
                 FROM cnt GROUP BY 1),
         dots AS (
           SELECT q.doc_id AS q_id, c.doc_id AS neighbor_id,
             CAST(sum(q.c * c.c) AS BIGINT) AS dot
           FROM cnt q JOIN cnt c USING (term)
           WHERE q.doc_id < 5 AND c.doc_id >= 5
           GROUP BY 1, 2),
         lex AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) DESC,
                   neighbor_id ASC) AS rl
             FROM dots
             JOIN nrm nq ON nq.doc_id = q_id
             JOIN nrm nc ON nc.doc_id = neighbor_id)
           WHERE rl <= 10),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         dense AS (
           SELECT q_id, neighbor_id, dense_rank FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))) DESC,
                   c.vec_id ASC) AS dense_rank
             FROM e q CROSS JOIN e c
             WHERE q.vec_id < 5 AND c.vec_id >= 5)
           WHERE dense_rank <= 20)
         SELECT d.q_id, d.neighbor_id, d.dense_rank
         FROM dense d ANTI JOIN lex l
           ON l.q_id = d.q_id AND l.neighbor_id = d.neighbor_id
         ORDER BY d.q_id, d.dense_rank""",
    "q83_containment" ->
      // complete all-ordered-pairs scan: the Spark side's asymmetric
      // prefix filter is candidate-complete by construction, so the
      // naive replay must produce the identical pair set
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(len(string_split(lower(text), ' '))-1),
               i -> string_split(lower(text), ' ')[i+1] || ' '
                 || string_split(lower(text), ' ')[i+2])) AS s
           FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 2)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.s, b.s)) * 1.0 / len(a.s)
             AS containment
         FROM d a JOIN d b ON a.doc_id <> b.doc_id
         WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) >= 0.8
         ORDER BY doc_a, doc_b""",
    "q84_quality_gate" ->
      // q19's quality arithmetic + q20's lang rule + q53's repetition,
      // conjoined into the pipeline's keep verdict (raw-value gates,
      // rounded output — each ingredient's SQL is its own green oracle)
      s"""WITH base AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct
           FROM documents),
         ann AS (
           SELECT doc_id, len(t) AS ntok,
             len(list_filter(t, x -> list_contains([$enStops], x))) AS en_hits,
             len(list_filter(t, x -> list_contains([$xxStops], x))) AS xx_hits,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
               AS DOUBLE) / len(t) AS sr,
             CAST(n_punct AS DOUBLE) / n_ch AS pr
           FROM base),
         big AS (SELECT doc_id, len(t) - 1 AS nbig,
             unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS bg
           FROM base WHERE len(t) >= 2),
         cnt AS (SELECT doc_id, nbig, bg, count(*) AS c
                 FROM big GROUP BY 1, 2, 3),
         rep AS (SELECT doc_id, max(c) / CAST(nbig AS DOUBLE) AS tf
                 FROM cnt GROUP BY doc_id, nbig),
         scored AS (
           SELECT a.doc_id,
             CASE WHEN en_hits > xx_hits AND en_hits >= 2 THEN 'en'
                  WHEN xx_hits > en_hits AND xx_hits >= 2 THEN 'xx'
                  ELSE 'und' END AS lang_pred,
             sr * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - pr) * CAST(0.3 AS DOUBLE)
               + least(ntok / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.2 AS DOUBLE) AS qs,
             coalesce(r.tf, CAST(0.0 AS DOUBLE)) AS tf
           FROM ann a LEFT JOIN rep r ON r.doc_id = a.doc_id)
         SELECT doc_id, lang_pred,
           qs AS quality_score,
           tf AS top_bigram_frac,
           (lang_pred = 'en' AND qs >= 0.2 AND tf <= 0.6) AS keep
         FROM scored ORDER BY doc_id""",
    "q85_dedup_report" ->
      // q36's recursive components + integer byte accounting; min_by
      // keyed on the unique member id = Spark's min_by (deterministic)
      """WITH RECURSIVE
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM e),
         edges AS (
           SELECT x.vec_id AS a, y.vec_id AS b2
           FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
           WHERE list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))) >= 0.4),
         sym AS (SELECT a, b2 FROM edges UNION ALL SELECT b2 AS a, a AS b2 FROM edges),
         reach(node, root) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.b2, r.root FROM reach r JOIN sym s ON s.a = r.node),
         comp AS (SELECT node, min(root) AS component
                  FROM reach GROUP BY node)
         SELECT c.component, count(*) AS n_members,
           min(c.node) AS canonical_id,
           CAST(sum(strlen(d.text)) AS BIGINT) AS bytes_total,
           CAST(sum(strlen(d.text))
             - min_by(strlen(d.text), c.node) AS BIGINT) AS bytes_saved
         FROM comp c JOIN documents d ON d.doc_id = c.node
         GROUP BY 1 ORDER BY 1""",
    "q87_pii_redact" ->
      // identical synthetic PII injection (integer arithmetic + lpad),
      // then the SAME four-pass chain with the SAME pattern constants
      // (interpolated from TextAnalysis — a pattern edit reaches both
      // engines; what the hash pins is Java-vs-RE2 dialect agreement
      // and the chain order). Counts are taken on the pre-pass text of
      // each stage, mirroring withPiiRedacted.
      s"""WITH aug AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 3 = 0 THEN ' mail u'
                  || CAST(doc_id AS VARCHAR) || '@ex'
                  || CAST(doc_id % 10 AS VARCHAR) || '.org' ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN ' ssn '
                  || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' host 10.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.'
                  || CAST((doc_id * 7) % 256 AS VARCHAR) || '.1' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call +1 (555) 01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
                  || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
                ELSE '' END AS t
           FROM documents),
         s1 AS (SELECT doc_id, t,
             regexp_replace(t, '${TextAnalysis.emailPattern}',
               '<EMAIL>', 'g') AS t1 FROM aug),
         s2 AS (SELECT *, regexp_replace(t1, '${TextAnalysis.idPattern}',
               '<ID>', 'g') AS t2 FROM s1),
         s3 AS (SELECT *, regexp_replace(t2, '${TextAnalysis.ipv4Pattern}',
               '<IP>', 'g') AS t3 FROM s2)
         SELECT doc_id,
           len(regexp_extract_all(t, '${TextAnalysis.emailPattern}'))
             AS n_emails,
           len(regexp_extract_all(t1, '${TextAnalysis.idPattern}'))
             AS n_ids,
           len(regexp_extract_all(t2, '${TextAnalysis.ipv4Pattern}'))
             AS n_ips,
           len(regexp_extract_all(t3, '${TextAnalysis.phonePattern}'))
             AS n_phones,
           regexp_replace(t3, '${TextAnalysis.phonePattern}',
             '<PHONE>', 'g') AS text_redacted
         FROM s3 ORDER BY doc_id""",
    "q88_bm25_index" ->
      // q60's exact Okapi arithmetic re-aimed at retrieval: distinct
      // query terms, df = posting-list length, per-term contribution
      // rounded to 1e-6 and summed as BIGINT (order-insensitive — the
      // only way a cross-term float sum can live under the hash check)
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 5),
         toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                  FROM corpus),
         tf AS (SELECT doc_id, term, count(*) AS n_td FROM toks GROUP BY 1, 2),
         len AS (SELECT doc_id, sum(n_td) AS len_d FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM corpus),
         a AS (SELECT CAST(sum(len_d) AS DOUBLE) / count(*) AS avg_len FROM len),
         qt AS (SELECT DISTINCT q_id, term FROM (
                  SELECT doc_id AS q_id,
                    unnest(string_split(lower(text), ' ')) AS term
                  FROM documents WHERE doc_id < 5)),
         dft AS (SELECT term, count(*) AS df_t FROM tf
                 WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         s AS (SELECT qt.q_id, tf.doc_id,
           CAST(round((ln((n.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5) + 1.0)
             * ((tf.n_td * (1.2 + 1)) / (tf.n_td + 1.2 *
               (1.0 - 0.75 + 0.75 * len.len_d / a.avg_len)))) * 1000000)
             AS BIGINT) AS c6
           FROM tf JOIN len USING (doc_id) JOIN dft USING (term)
           JOIN qt ON qt.term = tf.term
           CROSS JOIN n CROSS JOIN a),
         g AS (SELECT q_id, doc_id, CAST(sum(c6) AS BIGINT) AS si
               FROM s GROUP BY 1, 2),
         r AS (SELECT q_id, doc_id, si, row_number() OVER
                 (PARTITION BY q_id ORDER BY si DESC, doc_id) AS rnk FROM g)
         SELECT q_id, doc_id AS neighbor_id,
           CAST(si AS DOUBLE) / 1000000 AS bm25
         FROM r WHERE rnk <= 3 ORDER BY q_id, neighbor_id""",
    "q89_bm25_index_delete" ->
      // q88's oracle over the survivor corpus: the delete machinery
      // (DV-masked postings, negative stats rows) must make the index
      // score EXACTLY as if the victims were never indexed
      """WITH corpus AS (SELECT doc_id, text FROM documents
                         WHERE doc_id >= 5 AND doc_id % 10 <> 7),
         toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                  FROM corpus),
         tf AS (SELECT doc_id, term, count(*) AS n_td FROM toks GROUP BY 1, 2),
         len AS (SELECT doc_id, sum(n_td) AS len_d FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM corpus),
         a AS (SELECT CAST(sum(len_d) AS DOUBLE) / count(*) AS avg_len FROM len),
         qt AS (SELECT DISTINCT q_id, term FROM (
                  SELECT doc_id AS q_id,
                    unnest(string_split(lower(text), ' ')) AS term
                  FROM documents WHERE doc_id < 5)),
         dft AS (SELECT term, count(*) AS df_t FROM tf
                 WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         s AS (SELECT qt.q_id, tf.doc_id,
           CAST(round((ln((n.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5) + 1.0)
             * ((tf.n_td * (1.2 + 1)) / (tf.n_td + 1.2 *
               (1.0 - 0.75 + 0.75 * len.len_d / a.avg_len)))) * 1000000)
             AS BIGINT) AS c6
           FROM tf JOIN len USING (doc_id) JOIN dft USING (term)
           JOIN qt ON qt.term = tf.term
           CROSS JOIN n CROSS JOIN a),
         g AS (SELECT q_id, doc_id, CAST(sum(c6) AS BIGINT) AS si
               FROM s GROUP BY 1, 2),
         r AS (SELECT q_id, doc_id, si, row_number() OVER
                 (PARTITION BY q_id ORDER BY si DESC, doc_id) AS rnk FROM g)
         SELECT q_id, doc_id AS neighbor_id,
           CAST(si AS DOUBLE) / 1000000 AS bm25
         FROM r WHERE rnk <= 3 ORDER BY q_id, neighbor_id""",
    "q90_repeated_ngrams" ->
      // q45's gram SQL aimed at the corpus itself: distinct grams per
      // doc, corpus df, per-doc shared count + one exact-integer ratio
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         g AS (
           SELECT DISTINCT doc_id, g FROM (
             SELECT doc_id, unnest(list_transform(range(len(t) - 7),
               i -> array_to_string(t[i+1:i+8], ' '))) AS g
             FROM toks WHERE len(t) >= 8)),
         dfs AS (SELECT g, count(*) AS gdf FROM g GROUP BY 1)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN dfs.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN dfs.gdf >= 2 THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS shared_frac
         FROM g JOIN dfs USING (g)
         GROUP BY 1 ORDER BY 1""",
    "q91_mmr_diversify" ->
      // greedy MMR unrolled for k=3: round 1 = pure relevance argmax;
      // round 2's max-sim is the sim to the single pick (no GROUP BY
      // — max of one equals it bit-exactly); round 3 groups over both
      // picks. Same cosine tree as q26; 0.7/0.3 are the LITERALS the
      // Spark side uses (never 1-λ arithmetic)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 5),
         scored AS (
           SELECT q_id, neighbor_id, c.v,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(v, v))) AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(v, v))) DESC,
               neighbor_id ASC) AS rn
           FROM q CROSS JOIN c),
         cand AS (SELECT q_id, neighbor_id, v, cos FROM scored WHERE rn <= 10),
         sims AS (
           SELECT a.q_id, a.neighbor_id AS i, b.neighbor_id AS j,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS sim
           FROM cand a JOIN cand b
             ON a.q_id = b.q_id AND a.neighbor_id <> b.neighbor_id),
         s1 AS (SELECT q_id, neighbor_id, cos FROM (
             SELECT q_id, neighbor_id, cos, row_number() OVER
               (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
             FROM cand) WHERE rn = 1),
         m2 AS (SELECT q_id, neighbor_id, cos FROM (
             SELECT c.q_id, c.neighbor_id, c.cos, row_number() OVER
               (PARTITION BY c.q_id
                ORDER BY 0.7 * c.cos - 0.3 * s.sim DESC, c.neighbor_id) AS rn
             FROM cand c
             JOIN s1 ON s1.q_id = c.q_id AND c.neighbor_id <> s1.neighbor_id
             JOIN sims s ON s.q_id = c.q_id AND s.i = c.neighbor_id
               AND s.j = s1.neighbor_id)
           WHERE rn = 1),
         sel2 AS (SELECT q_id, neighbor_id FROM s1
                  UNION ALL SELECT q_id, neighbor_id FROM m2),
         m3g AS (
           SELECT c.q_id, c.neighbor_id, c.cos, max(s.sim) AS ms
           FROM cand c
           JOIN sims s ON s.q_id = c.q_id AND s.i = c.neighbor_id
           JOIN sel2 ON sel2.q_id = c.q_id AND sel2.neighbor_id = s.j
           WHERE NOT EXISTS (SELECT 1 FROM sel2 x
             WHERE x.q_id = c.q_id AND x.neighbor_id = c.neighbor_id)
           GROUP BY 1, 2, 3),
         m3 AS (SELECT q_id, neighbor_id, cos FROM (
             SELECT q_id, neighbor_id, cos, row_number() OVER
               (PARTITION BY q_id
                ORDER BY 0.7 * cos - 0.3 * ms DESC, neighbor_id) AS rn
             FROM m3g) WHERE rn = 1)
         SELECT q_id, 1 AS mmr_rank, neighbor_id, round(cos, 4) AS cosine
         FROM s1
         UNION ALL
         SELECT q_id, 2 AS mmr_rank, neighbor_id, round(cos, 4) AS cosine
         FROM m2
         UNION ALL
         SELECT q_id, 3 AS mmr_rank, neighbor_id, round(cos, 4) AS cosine
         FROM m3
         ORDER BY q_id, mmr_rank""",
    "q92_source_datacard" ->
      // q84's annotate arithmetic + q21's fingerprint fragment folded
      // per source; mean quality via per-row 1e-6 round -> BIGINT sum
      s"""WITH base AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS n_punct,
             CAST(('0x' || substr(md5(lower(text)), 1, 15)) AS BIGINT) AS fp
           FROM documents),
         ann AS (
           SELECT doc_id, source, fp, len(t) AS ntok,
             len(list_filter(t, x -> list_contains([$enStops], x)))
               AS en_hits,
             len(list_filter(t, x -> list_contains([$xxStops], x)))
               AS xx_hits,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
               AS DOUBLE) / len(t) AS sr,
             CAST(n_punct AS DOUBLE) / n_ch AS pr
           FROM base),
         q AS (
           SELECT doc_id, source, fp, ntok,
             CASE WHEN en_hits > xx_hits AND en_hits >= 2 THEN 'en'
                  WHEN xx_hits > en_hits AND xx_hits >= 2 THEN 'xx'
                  ELSE 'und' END AS lang_pred,
             sr * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - pr) * CAST(0.3 AS DOUBLE)
               + least(ntok / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.2 AS DOUBLE) AS qs
           FROM ann),
         fpc AS (SELECT fp, count(*) AS c FROM q GROUP BY 1)
         SELECT q.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(round(qs * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(*) AS mean_quality,
           CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS en_frac,
           CAST(sum(CASE WHEN fpc.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_docs
         FROM q JOIN fpc USING (fp)
         GROUP BY 1 ORDER BY 1""",
    "q94_quality_quartile" ->
      // the oracle is the NAIVE ntile window — the Spark side replays
      // it from a distributed two-pass exact rank; the hash check
      // proves the bucket-offset formulation IS ntile
      s"""WITH base AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS n_punct
           FROM documents),
         r AS (
           SELECT doc_id, source,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
                 AS DOUBLE) / len(t) * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE)
                  - CAST(n_punct AS DOUBLE) / n_ch) * CAST(0.3 AS DOUBLE)
               + least(len(t) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.2 AS DOUBLE) AS qs
           FROM base),
         g AS (
           SELECT doc_id, source,
             CAST(ntile(4) OVER (PARTITION BY source
               ORDER BY qs DESC, doc_id ASC) AS INT) AS quartile
           FROM r)
         SELECT doc_id, source, quartile, quartile = 1 AS keep
         FROM g ORDER BY doc_id""",
    "q95_temperature_mix" ->
      // the Σ√n fold is order-DEFINED on both sides: LEFT fold in
      // source order (list_reduce here, aggregate(array_sort) in
      // Spark); 0.0-init vs no-init folds agree because 0.0 + x = x
      s"""WITH per AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS n_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM per),
         tot AS (
           SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
             list_reduce(list(w ORDER BY source), (x, y) -> x + y) AS wsum
           FROM w)
         SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / tt AS share,
           w / wsum AS temp_weight,
           w / wsum / (CAST(n_tokens AS DOUBLE) / tt) AS boost
         FROM w CROSS JOIN tot ORDER BY source""",
    "q96_ann_sq8" ->
      // mirrors Similarity.sqTopK: per-dim [min,max] over the
      // L2-NORMALIZED corpus, clamp(floor((x-mn)*(255/(mx-mn))))
      // codes, asymmetric weighted-dot top-10 shortlist (query weights
      // qn[i]*((mx-mn)/255)), exact-cosine top-3 re-rank. floor (never
      // round) so no cross-engine tie semantics
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         corpus AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
         queries AS (SELECT vec_id AS id, v FROM e WHERE vec_id < 5),
         corpusn AS (SELECT id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
           FROM corpus),
         queriesn AS (SELECT id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
           FROM queries),
         pb AS (SELECT CAST(unnest(range(1, len(vn) + 1)) AS INT) AS pos, vn
                FROM corpusn),
         b AS (SELECT pos, min(vn[pos]) AS mn, max(vn[pos]) AS mx
               FROM pb GROUP BY 1),
         ba AS (SELECT list(mn ORDER BY pos) AS mns,
                  list(mx ORDER BY pos) AS mxs FROM b),
         qw AS (SELECT id, list_transform(range(1, len(vn) + 1), i ->
                  CASE WHEN mxs[i] = mns[i] THEN 0.0
                    ELSE vn[i] * ((mxs[i] - mns[i]) / 255.0)
                  END) AS w
                FROM queriesn CROSS JOIN ba),
         cc AS (SELECT id, list_transform(range(1, len(vn) + 1), i ->
                  CASE WHEN mxs[i] = mns[i] THEN 0.0
                    ELSE least(greatest(floor((vn[i] - mns[i])
                      * (255.0 / (mxs[i] - mns[i]))), 0.0), 255.0)
                  END) AS c
                FROM corpusn CROSS JOIN ba),
         sl AS (SELECT q_id, neighbor_id FROM (
                  SELECT q.id AS q_id, c2.id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.id
                      ORDER BY list_dot_product(q.w, c2.c) DESC, c2.id ASC)
                      AS rn
                  FROM qw q CROSS JOIN cc c2) WHERE rn <= 10),
         scored AS (SELECT sl.q_id, sl.neighbor_id,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))) AS cos,
             row_number() OVER (PARTITION BY sl.q_id
               ORDER BY list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(c.v, c.v))) DESC,
                 sl.neighbor_id ASC) AS rn
           FROM sl
           JOIN queries q ON q.id = sl.q_id
           JOIN corpus c ON c.id = sl.neighbor_id)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q251_ann_binary" ->
      // mirrors Similarity.binaryTopK: 1-bit sign codes (b_j = 1 iff
      // x_j >= 0 — scale-invariant, no training pass), integer
      // Hamming-AGREEMENT top-10 shortlist (ties by neighbor_id),
      // exact-cosine top-3 re-rank. Every shortlist score is an exact
      // integer, so the proxy ranking is bit-identical cross-engine
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         corpus AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
         queries AS (SELECT vec_id AS id, v FROM e WHERE vec_id < 5),
         cb AS (SELECT id, list_transform(v, x ->
                  CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS b
                FROM corpus),
         qb AS (SELECT id, list_transform(v, x ->
                  CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS b
                FROM queries),
         sl AS (SELECT q_id, neighbor_id FROM (
                  SELECT q.id AS q_id, c2.id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.id
                      ORDER BY list_sum(list_transform(
                          range(1, len(q.b) + 1), i ->
                          CASE WHEN q.b[i] = c2.b[i] THEN 1 ELSE 0 END))
                        DESC, c2.id ASC) AS rn
                  FROM qb q CROSS JOIN cb c2) WHERE rn <= 10),
         scored AS (SELECT sl.q_id, sl.neighbor_id,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))) AS cos,
             row_number() OVER (PARTITION BY sl.q_id
               ORDER BY list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(c.v, c.v))) DESC,
                 sl.neighbor_id ASC) AS rn
           FROM sl
           JOIN queries q ON q.id = sl.q_id
           JOIN corpus c ON c.id = sl.neighbor_id)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q252_readability" ->
      // exact integer counts (regex-run counting, floored at 1) and a
      // fixed-order IEEE chain for the grade — bit-identical
      // cross-engine, rounded to 4dp for the hash
      """SELECT doc_id,
           greatest(len(string_split(lower(text), ' ')), 1) AS words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
             AS sentences,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
             AS syllables,
           round(0.39 * (CAST(greatest(len(string_split(lower(text), ' ')),
                   1) AS DOUBLE)
                 / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
             + 11.8 * (CAST(greatest(len(regexp_extract_all(lower(text),
                   '[aeiouy]+')), 1) AS DOUBLE)
                 / greatest(len(string_split(lower(text), ' ')), 1))
             - 15.59, 4) AS fk_grade
         FROM documents ORDER BY doc_id""",
    "q258_chat_spans" ->
      // pure integer string arithmetic: per-turn template lengths
      // (8 = <|user|>, 13 = <|assistant|>, 7 = <|end|>), a running
      // prefix sum per document, assistant turns only — an off-by-one
      // anywhere in the span math hash-mismatches
      """WITH s AS (SELECT doc_id,
                 list_transform(
                   range(0, (len(string_split(text, ' ')) + 9) // 10),
                   i -> array_to_string(
                     string_split(text, ' ')[i * 10 + 1 : i * 10 + 10],
                     ' ')) AS ss
               FROM documents),
         t AS (SELECT doc_id, u.pos, u.sent FROM s,
                 LATERAL (SELECT unnest(list_transform(
                     range(1, len(ss) + 1),
                     i -> {'pos': i - 1, 'sent': ss[i]}),
                   recursive := true)) u),
         l AS (SELECT doc_id, pos, sent,
                 CASE WHEN pos % 2 = 0 THEN 8 ELSE 13 END
                   + length(sent) + 7 AS turn_len
               FROM t),
         p AS (SELECT doc_id, pos, sent,
                 CAST(coalesce(sum(turn_len) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS prefix
               FROM l)
         SELECT doc_id, CAST(pos AS BIGINT) AS turn_idx,
                CAST(prefix + 13 AS BIGINT) AS span_start,
                CAST(prefix + 13 + length(sent) AS BIGINT) AS span_end,
                CAST(length(sent) AS BIGINT) AS turn_chars
         FROM p WHERE pos % 2 = 1
         ORDER BY doc_id, turn_idx""",
    "q120_length_ks" ->
      // exact integer cumulative counts on the union length grid; one
      // ratio pair per (source, grid point); max |ΔF| per source
      """WITH lens AS (
           SELECT source, len(string_split(lower(text), ' ')) AS l
           FROM documents),
         grid AS (SELECT DISTINCT l FROM lens),
         sc AS (SELECT source, l, count(*) AS c FROM lens GROUP BY 1, 2),
         st AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                FROM lens GROUP BY 1),
         cc AS (SELECT l, count(*) AS cc FROM lens GROUP BY 1),
         ct AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM lens),
         fullg AS (SELECT s.source, g.l, coalesce(sc.c, 0) AS c
           FROM (SELECT DISTINCT source FROM lens) s
           CROSS JOIN grid g
           LEFT JOIN sc ON sc.source = s.source AND sc.l = g.l),
         fa AS (SELECT source, l,
             sum(c) OVER (PARTITION BY source ORDER BY l
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM fullg),
         fc AS (SELECT g.l,
             sum(coalesce(cc.cc, 0)) OVER (ORDER BY g.l
               ROWS UNBOUNDED PRECEDING) AS ccum
           FROM grid g LEFT JOIN cc ON cc.l = g.l)
         SELECT fa.source,
           max(abs(CAST(cum AS DOUBLE) / n - CAST(ccum AS DOUBLE) / nn))
             AS ks_d
         FROM fa
         JOIN fc ON fc.l = fa.l
         JOIN st ON st.source = fa.source
         CROSS JOIN ct
         GROUP BY 1 ORDER BY 1""",
    "q119_span_cut" ->
      // q118's span chain + covered-position explode + anti-join +
      // ordered re-agg (string_agg ORDER BY pos = the sorted-struct
      // rebuild)
      """WITH toksl AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t
           FROM documents),
         g AS (
           SELECT doc_id,
             CAST(unnest(range(0, len(t) - 7)) AS INT) AS pos,
             unnest(list_transform(range(len(t) - 7),
               i -> array_to_string(t[i+1:i+8], ' '))) AS g
           FROM toksl WHERE len(t) >= 8),
         dfs AS (SELECT g, count(*) AS gdf FROM (
                   SELECT DISTINCT doc_id, g FROM g) GROUP BY 1),
         shared AS (
           SELECT g.doc_id, g.pos FROM g
           JOIN dfs ON dfs.g = g.g AND dfs.gdf >= 2),
         isl AS (
           SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
           FROM shared),
         spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                   FROM isl GROUP BY doc_id, island),
         cov AS (SELECT DISTINCT doc_id,
             CAST(unnest(range(s, e + 1)) AS INT) AS pos
           FROM spans),
         toks AS (
           SELECT doc_id, CAST(unnest(range(0, len(t))) AS INT) AS pos,
             unnest(t) AS tok
           FROM toksl),
         kept AS (
           SELECT t.doc_id, t.pos, t.tok
           FROM toks t LEFT JOIN cov
             ON cov.doc_id = t.doc_id AND cov.pos = t.pos
           WHERE cov.pos IS NULL),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS text_clean
           FROM kept GROUP BY 1)
         SELECT agg.doc_id, CAST(len(t) AS INT) AS n_tokens,
           n_kept, text_clean
         FROM agg JOIN toksl ON toksl.doc_id = agg.doc_id
         ORDER BY agg.doc_id""",
    "q118_repeated_spans" ->
      // q90's gram-df fragment + the gaps-and-islands fold (island id
      // = pos - row_number is constant exactly on consecutive
      // positions); all integer arithmetic
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t
           FROM documents),
         g AS (
           SELECT doc_id,
             CAST(unnest(range(0, len(t) - 7)) AS INT) AS pos,
             unnest(list_transform(range(len(t) - 7),
               i -> array_to_string(t[i+1:i+8], ' '))) AS g
           FROM toks WHERE len(t) >= 8),
         dfs AS (SELECT g, count(*) AS gdf FROM (
                   SELECT DISTINCT doc_id, g FROM g) GROUP BY 1),
         shared AS (
           SELECT g.doc_id, g.pos FROM g
           JOIN dfs ON dfs.g = g.g AND dfs.gdf >= 2),
         isl AS (
           SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
           FROM shared)
         SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + 7 AS INT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",
    "q117_ann_rp" ->
      // mirrors Similarity.rpTopK: ±1 signs from md5("rp:i_j")
      // parity (computed HERE, data-independent — 1024 md5s once, not
      // per row), projection as an i-ascending left fold per output
      // dim, proxy dot top-10, exact-cosine top-3 re-rank
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         corpus AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
         queries AS (SELECT vec_id AS id, v FROM e WHERE vec_id < 5),
         corpusn AS (SELECT id, v,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
           FROM corpus),
         queriesn AS (SELECT id, v,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
           FROM queries),
         dims AS (SELECT len(v) AS d FROM corpus LIMIT 1),
         sij AS (
           -- scalar range + unnest: the lateral d isn't allowed as a
           -- range TABLE-function arg
           SELECT j, CAST(unnest(range(1, d + 1)) AS INT) AS i
           FROM range(0, 32) rj(j), dims),
         signs AS (
           SELECT j, i,
             CASE WHEN CAST(('0x' || substr(md5('rp:'
                 || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
                 1, 8)) AS BIGINT) % 2 = 0
               THEN 1.0 ELSE -1.0 END AS s
           FROM sij),
         sarr AS (SELECT j, list(s ORDER BY i) AS sj
                  FROM signs GROUP BY j),
         cp AS (SELECT id, list(p ORDER BY j) AS pv FROM (
             SELECT c.id, a.j,
               list_reduce(list_transform(range(1, len(c.vn) + 1),
                 i -> c.vn[i] * a.sj[i]), (x, y) -> x + y) AS p
             FROM corpusn c CROSS JOIN sarr a)
           GROUP BY id),
         qp AS (SELECT id, list(p ORDER BY j) AS pv FROM (
             SELECT q.id, a.j,
               list_reduce(list_transform(range(1, len(q.vn) + 1),
                 i -> q.vn[i] * a.sj[i]), (x, y) -> x + y) AS p
             FROM queriesn q CROSS JOIN sarr a)
           GROUP BY id),
         sl AS (SELECT q_id, neighbor_id FROM (
                  SELECT q.id AS q_id, c2.id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.id
                      ORDER BY list_dot_product(q.pv, c2.pv) DESC,
                        c2.id ASC) AS rn
                  FROM qp q CROSS JOIN cp c2) WHERE rn <= 50),
         scored AS (SELECT sl.q_id, sl.neighbor_id,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))) AS cos,
             row_number() OVER (PARTITION BY sl.q_id
               ORDER BY list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(c.v, c.v))) DESC,
                 sl.neighbor_id ASC) AS rn
           FROM sl
           JOIN queries q ON q.id = sl.q_id
           JOIN corpus c ON c.id = sl.neighbor_id)
         SELECT q_id, neighbor_id, round(cos, 4) AS cosine
         FROM scored WHERE rn <= 3 ORDER BY q_id, neighbor_id""",
    "q97_epoch_shuffle" ->
      // the oracle is the naive single-window form; the Spark side
      // replays it from the 256-bucket two-pass rank (q40's shape) —
      // the hash check proves the distributed reassembly IS the
      // global hash order
      """SELECT doc_id, source,
         CAST(row_number() OVER (
           ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS shuffle_pos
         FROM documents ORDER BY doc_id""",
    "q98_length_buckets" -> {
      val cases = (0 to 20)
        .map(j => s"WHEN n <= ${1L << j} THEN ${1L << j}")
        .mkString(" ")
      s"""WITH t AS (
           SELECT len(string_split(lower(text), ' ')) AS n
           FROM documents),
         b AS (SELECT n,
             CAST(CASE $cases ELSE ${1L << 21} END AS BIGINT) AS seq_len
           FROM t)
         SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(seq_len - n) AS BIGINT) AS pad_tokens,
           CAST(sum(seq_len - n) AS DOUBLE) / (seq_len * count(*))
             AS pad_frac
         FROM b GROUP BY 1 ORDER BY 1"""
    },
    "q99_bpe_pairs" ->
      // range(1, length(w)) is [1, len) in DuckDB = Spark's
      // sequence(1, length(w)-1) inclusive; substr is 1-based in both
      """WITH w AS (
           SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, length(w)),
             i -> substr(w, i, 2))) AS pair
           FROM w WHERE length(w) >= 2)
         SELECT pair, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20""",
    "q100_source_overlap" ->
      // q90's gram fragment lifted to source grain in q23's hashed
      // space; exact integer set sizes, one division per pair
      s"""WITH toks AS (
           SELECT source, string_split(lower(text), ' ') AS t
           FROM documents),
         g AS (SELECT DISTINCT source, ${duckHash("'777'", "gs")} AS g
           FROM (
             SELECT source, unnest(list_transform(range(len(t) - 7),
               i -> array_to_string(t[i+1:i+8], ' '))) AS gs
             FROM toks WHERE len(t) >= 8)),
         counts AS (SELECT source, count(*) AS n FROM g GROUP BY 1)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_grams,
           CAST(ca.n AS BIGINT) AS grams_a,
           CAST(cb.n AS BIGINT) AS grams_b,
           CAST(count(*) AS DOUBLE) / (ca.n + cb.n - count(*)) AS jaccard
         FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         JOIN counts ca ON ca.source = a.source
         JOIN counts cb ON cb.source = b.source
         GROUP BY a.source, b.source, ca.n, cb.n
         ORDER BY source_a, source_b""",
    "q101_dsir_weights" ->
      // q68's vocab fragment + add-one-smoothed target/raw unigram
      // LMs; the per-doc Σ is a position-ordered left fold (q95's
      // order-DEFINED float-sum contract). Same-level unnests zip, so
      // pos and tok stay aligned
      """WITH toksl AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS t
           FROM documents),
         toks AS (
           SELECT doc_id, source,
             CAST(unnest(range(1, len(t) + 1)) AS INT) AS pos,
             unnest(t) AS tok
           FROM toksl),
         cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         r AS (SELECT tok, c, row_number() OVER
                 (ORDER BY c DESC, tok) AS rn FROM cnt),
         vocab AS (SELECT tok, c AS cr FROM r WHERE rn <= 256),
         vr AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nr,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
               AS BIGINT) AS nt
           FROM toks),
         tc AS (SELECT tok, count(*) AS ct FROM toks
                WHERE source = 'src0' GROUP BY 1),
         scored AS (SELECT vocab.tok,
             ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) / (nt + v))
               - ln(CAST(cr + 1 AS DOUBLE) / (nr + v)) AS lr
           FROM vocab LEFT JOIN tc USING (tok)
           CROSS JOIN tot CROSS JOIN vr),
         dflt AS (SELECT
             ln(CAST(1.0 AS DOUBLE) / (nt + v))
               - ln(CAST(1.0 AS DOUBLE) / (nr + v)) AS lr0
           FROM tot CROSS JOIN vr),
         per AS (SELECT doc_id, source, pos,
             coalesce(scored.lr, dflt.lr0) AS lr
           FROM toks LEFT JOIN scored USING (tok) CROSS JOIN dflt)
         SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
           list_reduce(list(lr ORDER BY pos), (x, y) -> x + y)
             AS log_weight
         FROM per GROUP BY 1, 2 ORDER BY doc_id""",
    "q102_kcenter_coreset" -> {
      // unrolled greedy rounds (q91's CTE-chain technique): each p_r
      // is the argmax of the PRE-update running min-distance, so its
      // d is the value the Spark side emits at pick time
      def l2(a: String, b: String): String =
        s"list_sum(list_transform(range(1, len($a) + 1), " +
          s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      val k = 5
      val chain = (2 to k).map { r =>
        val prev = if (r == 2) "d1" else s"d${r - 1}"
        s"""p$r AS (SELECT id, v, d FROM $prev
             ORDER BY d DESC, id ASC LIMIT 1),
           d$r AS (SELECT $prev.id, $prev.v,
               least($prev.d, ${l2(s"$prev.v", "p.v")}) AS d
             FROM $prev CROSS JOIN p$r p)"""
      }.mkString(",\n")
      val out = (2 to k)
        .map(r => s"SELECT $r AS rank, id AS vec_id, sqrt(d) AS dist FROM p$r")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
             embedding::DOUBLE[] AS v FROM embeddings),
         s1 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
         d1 AS (SELECT e.id, e.v, ${l2("e.v", "s.v")} AS d
                FROM e CROSS JOIN s1 s),
         $chain
         SELECT * FROM (
           SELECT 1 AS rank, id AS vec_id, 0.0 AS dist FROM s1
           UNION ALL $out)
         ORDER BY rank"""
    },
    "q103_water_fill" ->
      s"""WITH $waterFillCtes
         SELECT source, cap AS n_tokens, weight, allocation, capped
         FROM wf ORDER BY source""",
    "q104_mixture_apply" ->
      // q40's naive running-sum window gated by the water-filled
      // allocation (the Spark side replays the cumsum via the
      // 256-bucket two-pass; the hash check covers both the cumsum
      // reassembly and the double-vs-long gate comparison)
      s"""WITH $waterFillCtes,
         sel AS (
           SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT)
               AS n_tokens,
             CAST(sum(len(string_split(lower(text), ' ')))
               OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM documents)
         SELECT doc_id, sel.source, n_tokens, cum_tokens
         FROM sel JOIN wf ON wf.source = sel.source
         WHERE CAST(cum_tokens AS DOUBLE) <= allocation
         ORDER BY sel.source, cum_tokens""",
    "q105_chunk_docs" ->
      // chunk count 1 + ceil(max(0, n-64)/48) via integer arithmetic;
      // DuckDB list slice t[a:b] is 1-based INCLUSIVE both ends =
      // Spark slice(t, a, len) with b = a + len - 1
      """WITH t AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t,
             len(string_split(lower(text), ' ')) AS n
           FROM documents),
         c AS (
           SELECT doc_id, t, n,
             CAST(unnest(range(0,
               CASE WHEN n <= 64 THEN 0
                 ELSE (n - 64 + 47) // 48 END + 1)) AS INT) AS chunk_idx
           FROM t)
         SELECT doc_id, chunk_idx,
           CAST(chunk_idx * 48 AS INT) AS start_tok,
           CAST(least(64, n - chunk_idx * 48) AS INT) AS n_chunk_tokens,
           array_to_string(t[chunk_idx * 48 + 1 :
             chunk_idx * 48 + least(64, n - chunk_idx * 48)], ' ')
             AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "q106_source_divergence" ->
      // q68's vocab + per-source add-one distributions; the per-pair
      // JS sum is an order-DEFINED fold in vocab-token order (q95's
      // contract); element expressions mirror the Spark zip_with tree
      """WITH toks AS (
           SELECT source, unnest(string_split(lower(text), ' ')) AS tok
           FROM documents),
         cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         r AS (SELECT tok, row_number() OVER (ORDER BY c DESC, tok)
                 AS rn FROM cnt),
         vocab AS (SELECT tok FROM r WHERE rn <= 256),
         vr AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         sc AS (SELECT source, tok, count(*) AS c
                FROM toks JOIN vocab USING (tok) GROUP BY 1, 2),
         grid AS (SELECT s.source, vb.tok, coalesce(sc.c, 0) AS c
           FROM (SELECT DISTINCT source FROM toks) s
           CROSS JOIN vocab vb
           LEFT JOIN sc ON sc.source = s.source AND sc.tok = vb.tok),
         ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS nsrc
                FROM grid GROUP BY 1),
         p AS (SELECT grid.source, grid.tok,
             CAST(grid.c + 1 AS DOUBLE) / (ns.nsrc + vr.v) AS p
           FROM grid JOIN ns USING (source) CROSS JOIN vr),
         vecs AS (SELECT source, list(p ORDER BY tok) AS pv
                  FROM p GROUP BY 1)
         SELECT a.source AS source_a, b.source AS source_b,
           list_reduce(
             list_transform(range(1, len(a.pv) + 1), i ->
               a.pv[i] * ln(a.pv[i] / ((a.pv[i] + b.pv[i]) / 2.0)) * 0.5
               + b.pv[i] * ln(b.pv[i] / ((a.pv[i] + b.pv[i]) / 2.0))
                 * 0.5),
             (x, y) -> x + y) AS js_divergence
         FROM vecs a JOIN vecs b ON a.source < b.source
         ORDER BY source_a, source_b""",
    "q107_vocab_drift" ->
      // the oracle recomputes both table STATES from scratch; the
      // Spark side folds ONLY the change feed — hash equality proves
      // feed-fold ≡ full recompute (IVM applied to text stats).
      // v0 = doc_id % 5 <> 0; v2 = everything minus the DV-deleted
      // [100, 199] (deleteVectorized bounds are inclusive)
      """WITH c0 AS (
           SELECT unnest(string_split(lower(text), ' ')) AS term
           FROM documents WHERE doc_id % 5 <> 0),
         c2 AS (
           SELECT unnest(string_split(lower(text), ' ')) AS term
           FROM documents WHERE doc_id NOT BETWEEN 100 AND 199),
         a AS (SELECT term, count(*) AS n0 FROM c0 GROUP BY 1),
         b AS (SELECT term, count(*) AS n2 FROM c2 GROUP BY 1),
         j AS (SELECT coalesce(a.term, b.term) AS term,
             coalesce(b.n2, 0) - coalesce(a.n0, 0) AS delta
           FROM a FULL JOIN b ON a.term = b.term)
         SELECT term, CAST(delta AS BIGINT) AS delta FROM j
         WHERE delta <> 0 ORDER BY abs(delta) DESC, term ASC LIMIT 10""",
    "q115_curriculum" ->
      // q94's ntile chain + per-quartile token fold + the 4-epoch
      // prefix admission rule (epoch e admits quartiles 1..e)
      s"""WITH base AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS n_punct
           FROM documents),
         r AS (
           SELECT doc_id, source, len(t) AS ntok,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
                 AS DOUBLE) / len(t) * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE)
                  - CAST(n_punct AS DOUBLE) / n_ch) * CAST(0.3 AS DOUBLE)
               + least(len(t) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.2 AS DOUBLE) AS qs
           FROM base),
         g AS (
           SELECT doc_id, ntok,
             CAST(ntile(4) OVER (PARTITION BY source
               ORDER BY qs DESC, doc_id ASC) AS INT) AS quartile
           FROM r),
         perq AS (SELECT quartile, count(*) AS qd,
             sum(ntok) AS qt FROM g GROUP BY 1),
         tot AS (SELECT CAST(sum(qt) AS BIGINT) AS tt FROM perq),
         ep AS (SELECT CAST(unnest(range(1, 5)) AS INT) AS epoch)
         SELECT epoch, CAST(sum(qd) AS BIGINT) AS n_docs,
           CAST(sum(qt) AS BIGINT) AS n_tokens,
           CAST(sum(qt) AS DOUBLE) / tt AS token_share
         FROM ep JOIN perq ON perq.quartile <= ep.epoch
         CROSS JOIN tot
         GROUP BY epoch, tt ORDER BY epoch""",
    "q116_filter_cascade" ->
      // q84's annotate SQL + q110's entropy, folded into the ordered
      // first-failing-rule CASE
      s"""WITH base AS (
           SELECT doc_id, text, string_split(lower(text), ' ') AS t,
             length(text) AS n_ch,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS n_punct
           FROM documents),
         ann AS (
           SELECT doc_id, len(t) AS ntok,
             len(list_filter(t, x -> list_contains([$enStops], x)))
               AS en_hits,
             len(list_filter(t, x -> list_contains([$xxStops], x)))
               AS xx_hits,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
               AS DOUBLE) / len(t) AS sr,
             CAST(n_punct AS DOUBLE) / n_ch AS pr
           FROM base),
         big AS (SELECT doc_id, len(t) - 1 AS nbig,
             unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS bg
           FROM base WHERE len(t) >= 2),
         cnt AS (SELECT doc_id, nbig, bg, count(*) AS c
                 FROM big GROUP BY 1, 2, 3),
         rep AS (SELECT doc_id, max(c) / CAST(nbig AS DOUBLE) AS tf
                 FROM cnt GROUP BY doc_id, nbig),
         ch AS (SELECT doc_id, length(text) AS nch,
             unnest(list_transform(range(1, length(text) + 1),
               i -> substr(lower(text), i, 1))) AS ch
           FROM base),
         cc2 AS (SELECT doc_id, nch, ch, count(*) AS c
                 FROM ch GROUP BY 1, 2, 3),
         ent AS (SELECT doc_id,
             list_reduce(list(
               (CAST(c AS DOUBLE) / nch) * ln(CAST(c AS DOUBLE) / nch)
                 * -1.0 ORDER BY ch), (x, y) -> x + y) AS e
           FROM cc2 GROUP BY 1),
         scored AS (
           SELECT a.doc_id, ntok,
             CASE WHEN en_hits > xx_hits AND en_hits >= 2 THEN 'en'
                  WHEN xx_hits > en_hits AND xx_hits >= 2 THEN 'xx'
                  ELSE 'und' END AS lang_pred,
             sr * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - pr) * CAST(0.3 AS DOUBLE)
               + least(ntok / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.2 AS DOUBLE) AS qs,
             coalesce(r.tf, CAST(0.0 AS DOUBLE)) AS tf,
             ent.e AS e
           FROM ann a
           LEFT JOIN rep r ON r.doc_id = a.doc_id
           JOIN ent ON ent.doc_id = a.doc_id)
         SELECT doc_id,
           CASE WHEN ntok < 10 THEN 'too_short'
                WHEN lang_pred <> 'en' THEN 'non_english'
                WHEN qs < 0.2 THEN 'low_quality'
                WHEN tf > 0.6 THEN 'repetitive'
                WHEN e < 2.7 THEN 'low_entropy'
                ELSE 'kept' END AS reason,
           CASE WHEN ntok < 10 THEN 'too_short'
                WHEN lang_pred <> 'en' THEN 'non_english'
                WHEN qs < 0.2 THEN 'low_quality'
                WHEN tf > 0.6 THEN 'repetitive'
                WHEN e < 2.7 THEN 'low_entropy'
                ELSE 'kept' END = 'kept' AS keep
         FROM scored ORDER BY doc_id""",
    "q108_minhash_index" ->
      // q23's signing chain; candidates = query bands (doc_id%10 in
      // {1,2}) probing INDEXED bands (the rest) — no bucket-size
      // floor/cap (the probe join has no self-join degeneracy); string
      // shingle-set Jaccard = the hashed-space kernel's value (q23
      // precedent)
      s"""WITH $minhashBandCtes,
         candqx AS (
           SELECT DISTINCT q.doc_id AS doc_q, x.doc_id AS doc_x
           FROM bands q JOIN bands x
             ON q.band = x.band AND q.key = x.key
           WHERE q.doc_id % 10 IN (1, 2)
             AND x.doc_id % 10 NOT IN (1, 2)),
         ver AS (
           SELECT c.doc_q, c.doc_x,
             len(list_intersect(sa.s, sb.s)) * 1.0
               / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
           FROM candqx c
           JOIN sh sa ON c.doc_q = sa.doc_id
           JOIN sh sb ON c.doc_x = sb.doc_id)
         SELECT doc_q, doc_x, jaccard FROM ver
         WHERE jaccard >= 0.8 ORDER BY doc_q, doc_x""",
    "q109_canonical_quality" ->
      // q23's verified pairs -> q36's recursive min-label components
      // -> per-component argmax by q19's quality tree (ties -> lowest
      // id); the bsize floor/cap mirrors lshCandidates exactly as in
      // the q23 oracle
      s"""WITH RECURSIVE $minhashBandCtes,
         bsize AS (
           SELECT band, key, count(*) AS n FROM bands GROUP BY band, key),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           JOIN bsize s ON a.band = s.band AND a.key = s.key
           WHERE s.n BETWEEN 2 AND 10000),
         pairs AS (
           SELECT c.doc_a, c.doc_b
           FROM cand c
           JOIN sh sa ON c.doc_a = sa.doc_id
           JOIN sh sb ON c.doc_b = sb.doc_id
           WHERE len(list_intersect(sa.s, sb.s)) * 1.0
               / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8),
         sym AS (SELECT doc_a AS a, doc_b AS b2 FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(node, root) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.b2, r.root FROM reach r JOIN sym s ON s.a = r.node),
         comp AS (SELECT node, min(root) AS component
                  FROM reach GROUP BY node),
         qual AS (
           SELECT doc_id,
             CAST(len(list_filter(t, x -> list_contains([$enStops], x)))
                 AS DOUBLE) / len(t) * CAST(0.5 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE)
                  - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]',
                      '', 'g')) AS DOUBLE) / length(text))
                 * CAST(0.3 AS DOUBLE)
               + least(len(t) / CAST(100.0 AS DOUBLE),
                   CAST(1.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE)
               AS quality_score
           FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
                 FROM documents)),
         j AS (SELECT comp.component, comp.node AS doc_id,
                 qual.quality_score
               FROM comp JOIN qual ON qual.doc_id = comp.node),
         rr AS (SELECT *, row_number() OVER (PARTITION BY component
                  ORDER BY quality_score DESC, doc_id ASC) AS rn FROM j)
         SELECT CAST(component AS BIGINT) AS component, doc_id,
           quality_score, rn = 1 AS canonical
         FROM rr ORDER BY component, doc_id""",
    "q110_lexical_diversity" ->
      // entropy terms are single-expression doubles; the per-doc Σ is
      // an order-DEFINED fold in character order (q95's class)
      """WITH base AS (
           SELECT doc_id, text, string_split(lower(text), ' ') AS t
           FROM documents),
         b2 AS (SELECT doc_id, text,
             CAST(len(t) AS INT) AS n_tokens,
             CAST(len(list_distinct(t)) AS INT) AS n_types,
             CAST(list_sum(list_transform(t, x -> length(x)))
               AS BIGINT) AS sum_len,
             length(text) AS nch
           FROM base),
         ch AS (SELECT doc_id, nch,
             unnest(list_transform(range(1, length(text) + 1),
               i -> substr(lower(text), i, 1))) AS ch
           FROM b2),
         cc AS (SELECT doc_id, nch, ch, count(*) AS c
                FROM ch GROUP BY 1, 2, 3),
         terms AS (SELECT doc_id, ch,
             (CAST(c AS DOUBLE) / nch) * ln(CAST(c AS DOUBLE) / nch)
               * -1.0 AS term
           FROM cc),
         ent AS (SELECT doc_id,
             list_reduce(list(term ORDER BY ch), (x, y) -> x + y)
               AS char_entropy
           FROM terms GROUP BY 1)
         SELECT b2.doc_id, n_tokens, n_types,
           CAST(n_types AS DOUBLE) / n_tokens AS ttr,
           CAST(sum_len AS DOUBLE) / n_tokens AS mean_word_len,
           char_entropy
         FROM b2 JOIN ent USING (doc_id) ORDER BY doc_id""",
    "q111_contamination_rate" ->
      // q45's broadcast-benchmark join rolled up to source grain
      """WITH toks AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_transform(range(len(t) - 7),
             i -> array_to_string(t[i+1:i+8], ' '))) AS g8
           FROM toks WHERE len(t) >= 8),
         bench AS (SELECT DISTINCT g8 FROM sh WHERE doc_id % 10 = 0),
         flagged AS (
           SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (g8)
           WHERE s.doc_id % 10 <> 0)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS flag_rate
         FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
         WHERE d.doc_id % 10 <> 0
         GROUP BY 1 ORDER BY 1""",
    "q112_embedding_qa" ->
      // per-value round->LONG sums (q86's class): mean/std
      // order-insensitive; min/max exact; dim is 0-based like
      // posexplode
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         px AS (SELECT CAST(unnest(range(1, len(v) + 1)) AS INT) - 1
                  AS dim, unnest(v) AS x
                FROM e),
         agg AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT)
               AS sx,
             CAST(sum(CAST(round(x * x * 1000000) AS BIGINT)) AS BIGINT)
               AS sxx,
             min(x) AS min_x, max(x) AS max_x
           FROM px GROUP BY 1)
         SELECT dim, n,
           CAST(sx AS DOUBLE) / 1000000 / n AS mean_x,
           sqrt(greatest(0.0,
             CAST(sxx AS DOUBLE) / 1000000 / n
               - (CAST(sx AS DOUBLE) / 1000000 / n)
                 * (CAST(sx AS DOUBLE) / 1000000 / n))) AS std_x,
           min_x, max_x
         FROM agg ORDER BY dim"""
  )
}
