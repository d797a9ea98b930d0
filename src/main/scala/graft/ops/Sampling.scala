package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Reproducible dataset splitting/sampling for training pipelines.
  *
  * `df.sample()`/`randomSplit()` are NOT reproducible at scale: their
  * row→random-draw pairing depends on partition layout, so the same call
  * over the same data can yield different train/eval sets after a
  * repartition, a file compaction, or an engine upgrade. Hash-based
  * assignment derives each row's bucket from a KEY (md5, engine-portable
  * — [[TextFns.hash60]]), making splits a pure function of the data:
  * stable across layouts, engines and time, and consistent for every row
  * of the same key (no train/eval leakage for multi-row entities).
  */
object Sampling {

  /** Deterministic bucket 0..99 for a key column. */
  def hashBucket(key: Column): Column =
    pmod(TextFns.hash60(key.cast("string")), lit(100L))

  /** 2^60 as an (exactly representable) double — the denominator turning
    * [[TextFns.hash60]] into a uniform draw in (0, 1]. */
  private val TwoPow60 = 1152921504606846976L

  /** Duffield–Lund–Thorup priority of a row: weight / u, where
    * u = (hash60(key)+1) / 2^60 is a reproducible uniform in (0, 1].
    * Keeping the k highest-priority rows is a weighted sample without
    * replacement whose inclusion probabilities track the weights — and
    * because u is hash-derived, the SAME rows are picked across
    * partitionings, engines and reruns (unlike rand()-keyed sampling).
    *
    * Float discipline (oracle parity): only +, / and long→double
    * conversions — all exactly-rounded IEEE ops, bit-identical across
    * engines. No pow/ln (their last-bit rounding is libm-specific).
    */
  def priority(key: Column, weight: Column): Column = {
    val u = (TextFns.hash60(key.cast("string")) + lit(1L)).cast("double") /
      lit(TwoPow60).cast("double")
    weight.cast("double") / u
  }

  /** Top-k weighted sample per stratum (global sample: constant stratum).
    * One shuffle on the stratum; the per-stratum top-k is the same
    * windowed rank TopK.perGroup uses, so skewed strata degrade to a
    * bounded sort, never a global one. Ties (equal priority) break on
    * the key for a total order. */
  def prioritySample(df: DataFrame, key: Column, weight: Column,
      stratum: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(priority(key, weight).desc, key.asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Temperature-0.5 source-mixture weights: w_i ∝ √n_i — the standard
    * dampening between proportional sampling (α=1, big sources drown
    * the mixture) and uniform (α=0, tiny sources repeat until memorized)
    * — plus each source's integer document quota for a total `budget`.
    *
    * Everything except the reported `share` is INTEGER arithmetic, so
    * quotas replay bit-identically in any engine: w_i = ⌊√(n_i·10⁶)⌋
    * (six digits of sub-integer precision; exact because n_i·10⁶ stays
    * within double's 2⁵³ integer range — guarded, not assumed),
    * Σw exact, target_i = ⌊budget·w_i / Σw⌋ in 128-bit/decimal
    * multiply-divide (no double rounding anywhere near the quota).
    * `share` is the one double expression (w_i/Σw, a single division).
    * Targets under-fill by < n_sources docs (floor); callers top up the
    * largest-remainder sources if the budget must be met exactly. */
  def mixtureWeights(df: DataFrame, source: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counts = df.groupBy(source.as("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val precision = 1000000L // n·10⁶ must stay exactly representable
    // the guard lives INSIDE w_sqrt so column pruning can't elide it
    val w = when(col("n_docs") > (1L << 52) / precision,
      raise_error(lit("mixtureWeights: source count exceeds the " +
        "exact-sqrt range (2^52/10^6 docs); pre-scale the counts"))
        .cast("long"))
      .otherwise(
        floor(sqrt((col("n_docs") * lit(precision)).cast("double")))
          .cast("long"))
    val weighted = counts.withColumn("w_sqrt", w)
    val total = weighted.agg(sum(col("w_sqrt")).cast("long").as("__tw"))
    weighted.crossJoin(broadcast(total))
      .selectExpr("source", "n_docs", "w_sqrt",
        "CAST(w_sqrt AS DOUBLE) / CAST(__tw AS DOUBLE) AS share",
        s"CAST((CAST(w_sqrt AS DECIMAL(38,0)) * $budget) DIV __tw " +
          "AS BIGINT) AS target_docs")
      .orderBy("source")
  }

  /** Proportional stratified sample: the first ceil(frac × n_s) rows of
    * EVERY stratum in hash60(key) order (ties broken by the key — a
    * total order), so each stratum is represented at the same rate
    * regardless of size — the fix for plain hash-sampling's blind spot,
    * where a rare language/source can vanish from the sample entirely.
    *
    * Deterministic like everything here: stratum quotas come from exact
    * counts (one window, same shuffle as the rank), the "random" order
    * is the hash, so the same rows are picked across layouts, engines
    * and reruns. ceil(frac × n) is one exactly-rounded double multiply
    * per stratum — replayable in any engine. One shuffle total. */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1], got $frac")
    val w = Window.partitionBy(stratum)
      .orderBy(TextFns.hash60(key.cast("string")).asc, key.asc)
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(stratum)))
      .filter(col("__rn") <= ceil(lit(frac) * col("__n")))
      .drop("__rn", "__n")
  }
}
