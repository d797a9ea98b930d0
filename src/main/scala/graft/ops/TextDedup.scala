package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType}

import graft.functions.TextFns

/** Document deduplication family for the training-data pipeline surface:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale shape (the part that matters at 100 TB): no operator here ever
  * forms the all-pairs O(n²) space. Candidates come from equality joins on
  * LSH bucket keys (shuffle on the bucket hash, pairs only within
  * buckets); only candidates pay the exact-verification cost. All hashes
  * derive from md5 ([[TextFns.hash60]]) so results are engine- and
  * layout-independent.
  *
  * Measured accuracy (sf0.01 fixtures vs an exhaustive all-pairs Jaccard
  * ground truth): [[minHashNearDups]] (k=16, 4 bands, ≥0.4) and
  * [[ngramJaccardDups]] (maxDF=10, ≥0.5) both achieve recall 1.0 with
  * zero false positives — the exact-verification stage guarantees
  * precision; banding/df-cap parameters set the recall trade.
  */
object TextDedup {

  /** Exact dedup on a normalized content fingerprint — keep the lowest id
    * per group (deterministic, pandas keep-first flavored). */
  def exactByFingerprint(docs: DataFrame, fpCol: String = "fp"): DataFrame =
    Dedup.keepFirst(
      docs.withColumn(fpCol, TextFns.contentFingerprint(col("text"))),
      Seq(fpCol), Seq(col("doc_id").asc))

  /** Distinct word-level 3-gram shingles per document: (doc_id, shingle).
    *
    * Edge contract: a document with fewer than `n` tokens produces NO
    * shingles, hence no MinHash signature and no n-gram postings — such
    * docs can never surface as near-dup candidates in
    * [[minHashNearDups]]/[[ngramJaccardDups]] (only [[exactByFingerprint]]
    * catches identical short docs). Pinned by a test; widen by lowering
    * `n` if short-text near-dup matters for a corpus.
    *
    * The shingle construction is deliberately INLINE in the Generate
    * (explode) operator: materializing the array in a separate projection
    * first (`select(arrayExpr.as("shs"))` then `explode(col("shs"))`)
    * measured ~15× slower at sf0.1 — the staged plan pays an extra
    * UnsafeArrayData materialization per row for the wide string array.
    * Don't "clean this up" into two steps. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .withColumn("__toks", TextFns.tokensWs(lower(col("text"))))
      .withColumn("shingle", explode(array_distinct(
        when(size(col("__toks")) >= n,
          transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
          .otherwise(array().cast("array<string>")))))
      .select("doc_id", "shingle")

  /** Per-document distinct-shingle ARRAYS: (doc_id, shs). The non-
    * exploded companion of [[shingles]] for the array-verify path —
    * staging the array is fine here (it feeds joins, not a Generate;
    * see the [[shingles]] inline-explode note). */
  def shingleArrays(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .withColumn("__toks", TextFns.tokensWs(lower(col("text"))))
      .select(col("doc_id"), array_distinct(
        when(size(col("__toks")) >= n,
          transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("shs"))

  /** MinHash signatures: k permutation-hashes h_i(x) = (a_i·x + b_i) mod p
    * over shingle hashes; signature_i = min over the doc's shingles.
    * Explode + hash-aggregate formulation: the k min-aggregates run in
    * whole-stage codegen with the md5 shingle hash computed once per
    * shingle (subexpression elimination), and map-side partial combine
    * keeps the shuffle at O(docs × k). Measured 2-4× faster than the
    * shuffle-free `array_min ∘ transform` per-row variant, whose
    * higher-order lambdas are interpreted and get no CSE. */
  val P: Long = 2147483647L
  def minHashSignatures(sh: DataFrame, k: Int): DataFrame = {
    val h = TextFns.hash31(col("shingle"))
    val aggs = (0 until k).map { i =>
      min((h * (2 * i + 3) + (5 * i + 7)) % P).as(s"mh_$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: split the k-wide signature into `bands` rows of
    * `k/bands` values; docs agreeing on any whole band become candidate
    * pairs via an equality self-join on (band_idx, band values).
    *
    * Skew guard: a bucket's pair count is quadratic in its size, so one
    * degenerate bucket (a boilerplate/template corpus — exactly what LLM
    * dedup runs into) can dominate the whole job. Buckets larger than
    * `maxBucket` are dropped from candidate generation (their docs can
    * still pair through their other bands; identical boilerplate is
    * caught by [[exactByFingerprint]], which is the cheaper tool for it).
    * Singleton buckets are dropped too — they cannot produce a pair, and
    * pruning them pre-join shrinks the self-join input. Same trade as
    * `maxDF` in [[ngramJaccardDups]]. */
  def lshCandidates(sigs: DataFrame, k: Int, bands: Int,
      maxBucket: Int = 10000): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature width ($k): a zero-width " +
        "band matches everything (all-pairs blowup); a remainder silently " +
        "drops trailing minhashes")
    val r = k / bands
    val banded = sigs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        // uniform field names so the band structs share one array type
        struct((0 until r).map(i => col(s"mh_${b * r + i}").as(s"v$i")): _*)
      }: _*)).as(Seq("band_idx", "band")))
    val kept = SkewGuard.capBuckets(banded, Seq("band_idx", "band"),
      maxBucket, minSize = 2)
    kept.as("x").join(kept.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs against per-document
    * shingle ARRAYS: two id-keyed joins plus a codegen'd
    * `array_intersect` per pair. Replaces the posting-list formulation
    * ([[verifyJaccard]]) on the hot path — that one re-shuffles the full
    * exploded (doc_id, shingle) relation three times (sizes + two
    * intersection joins), which dominated d2/d5 at sf0.1. Values are
    * identical: |a∩b| over distinct arrays, single division. Prefer the
    * posting-list variant only when single documents are so large their
    * shingle arrays shouldn't ride through a join row. */
  def verifyJaccardArrays(cands: DataFrame, docs: DataFrame, n: Int,
      threshold: Double): DataFrame =
    verifyJaccardArraysOn(cands, shingleArrays(docs, n), threshold)

  /** [[verifyJaccardArrays]] against an already-built (possibly pinned)
    * shingle-array frame — the form a caller that reuses the arrays
    * across plan references wants. */
  def verifyJaccardArraysOn(cands: DataFrame, arr: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(arr.toDF("doc_a", "shs_a"), Seq("doc_a"))
      .join(arr.toDF("doc_b", "shs_b"), Seq("doc_b"))
      .withColumn("__i",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard", col("__i").cast("double") /
        (size(col("shs_a")).cast("long") + size(col("shs_b")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Exact Jaccard verification of candidate pairs against the true
    * shingle sets; keeps pairs with similarity ≥ threshold. Posting-list
    * formulation over exploded (doc_id, shingle) rows — the spill-safe
    * alternative to [[verifyJaccardArrays]] for corpora with huge
    * individual documents. */
  def verifyJaccard(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cands
      .join(sh.toDF("doc_a", "shingle"), Seq("doc_a"))
      .join(sh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    cands
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b"), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline:
    * shingle → sign → band → candidate join → exact-Jaccard verify.
    *
    * The tokenize+shingle pass would otherwise run THREE times (the
    * signature aggregation plus both verify array sides), so the
    * per-document shingle arrays are pinned for the verify joins and
    * the small pair result is re-rooted through a flat-RDD barrier
    * before the pin releases — the same lifecycle discipline as
    * [[ngramJaccardDups]] / [[dedupClusters]] (measured there: the
    * recomputed pass dominated the 100× corpus cost). */
  def minHashNearDups(docs: DataFrame, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.4, maxBucket: Int = 10000,
      n: Int = 3): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    // one n for BOTH signature shingling and verification — different
    // widths would verify pairs against a similarity the signatures
    // never estimated
    val sh = shingles(docs, n)
    val arr = shingleArrays(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    // The signature frame feeds four plan references downstream (the
    // skew guard's size aggregation + join-back inside lshCandidates,
    // then both sides of the band self-join) — but it is DELIBERATELY
    // not persisted: the groupBy behind it ends in a shuffle exchange,
    // and ReuseExchange dedups identical exchanges across those
    // references, so the tokenize+shingle+aggregate pass runs once
    // regardless. A controlled A/B at the 100× corpus (BASELINE.md
    // round 8) measured pinning it as a 10-25% NET LOSS (d6 17.7-19.5 s
    // unpinned vs 19.7-24.7 s pinned, identical rows) — the persist
    // materialization costs more than the already-deduplicated reuse.
    // Contrast d5/ngramJaccardDups, whose recomputed references sit
    // BELOW different shuffles and genuinely re-ran the text pass.
    try {
      val result = verifyJaccardArraysOn(
        lshCandidates(minHashSignatures(sh, k), k, bands, maxBucket),
        arr, threshold)
      val out = spark.createDataFrame(result.rdd, result.schema)
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally arr.unpersist(blocking = false)
  }

  /** Direct n-gram Jaccard near-dup pairs — no MinHash approximation in
    * candidate generation; instead an inverted shingle index with a
    * document-frequency cap: only shingles appearing in 2..maxDF docs
    * generate candidate pairs (a pair ALL of whose shared shingles are
    * ultra-common is missed — the standard posting-list-cap trade that
    * keeps the candidate join bounded by O(maxDF²) per shingle instead of
    * O(corpus²) for stopword shingles; measured on the fixtures, maxDF=10
    * halves the candidate volume of maxDF=20 with identical output, while
    * maxDF=5 starts losing true pairs). Candidates then get exact Jaccard
    * verification via the POSTING-LIST formulation ([[verifyJaccard]]),
    * not the array join: shipping both documents' full shingle arrays to
    * every candidate pair multiplies the verify join's row width by the
    * document size, and at the 100× ScaleGen corpus (500k docs) the
    * resulting sort-merge spill exhausted a 79 GB local disk — the
    * posting spelling moves only (pair, shared-shingle) rows
    * (result-identical; measured in BASELINE.md).
    *
    * `minSharedRare` is the second cap that makes the verify pass scale:
    * candidate pairs must share at least that many capped shingles. A
    * genuinely near-duplicate pair shares MANY (at threshold 0.5 and
    * fixture-sized docs, ≥ ~26 shingles), while the candidate tail is
    * dominated by pairs sharing exactly ONE — random collisions whose
    * exact verification is pure cost (each drags its documents' full
    * posting rows through the intersection join; at 100× that tail alone
    * exhausted local disk). Like maxDF, it is a documented trade: a true
    * pair whose overlap consists of one capped shingle plus ultra-common
    * ones is missed. */
  def ngramJaccardDups(docs: DataFrame, n: Int = 3, maxDF: Int = 10,
      threshold: Double = 0.5, minSharedRare: Int = 2): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    // the shingle frame feeds FIVE plan references (df agg, posting
    // join, verify's two posting sides, sizes) and the posting frame
    // two — unpersisted, the tokenize+explode pass re-runs per
    // reference and dominates at scale (measured at the 100× corpus:
    // 137 s → 72 s with both pinned, identical 25.5k output rows; one
    // shingle pass alone is 12 s there). The small pair result is
    // materialized through a flat-RDD barrier so both inputs release
    // before returning — same lifecycle discipline as [[dedupClusters]].
    val sh = shingles(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDF)
      .select("shingle")
    val posting = sh.join(rare, Seq("shingle"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = posting.select(col("shingle"), col("doc_id").as("doc_a"))
        .join(posting.select(col("shingle"), col("doc_id").as("doc_b")),
          Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("__shared"))
        .filter(col("__shared") >= minSharedRare)
        .select("doc_a", "doc_b")
      val result = verifyJaccard(cands, sh, threshold)
      val out = spark.createDataFrame(result.rdd, result.schema)
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally {
      posting.unpersist(blocking = false)
      sh.unpersist(blocking = false)
    }
  }

  /** Edge-row bound for the driver union-find shortcut in
    * [[dedupClusters]]: 2^20 symmetrized edge rows ≈ 16 MB of longs on
    * the driver — the same order as merge's footprint materialization.
    * Past it the distributed label-propagation loop runs unchanged. */
  private val DriverUnionFindMaxEdges = 1L << 20

  /** Connected components of a small collected edge list: union-find
    * with path halving, then one pass labels every vertex with the
    * MINIMUM vertex id of its component — exactly the fixpoint the
    * distributed hash-min loop converges to (the min is computed in a
    * separate pass, so the union order never affects the labels). */
  private def driverComponents(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val minOf = new java.util.HashMap[Long, Long]()
    val verts = new java.util.LinkedHashSet[Long]()
    es.foreach { case (a, b) => verts.add(a); verts.add(b) }
    verts.forEach { v =>
      val r = find(v)
      minOf.merge(r, v, (x, y) => math.min(x, y))
    }
    val out = Seq.newBuilder[(Long, Long)]
    verts.forEach(v => out += ((v, minOf.get(find(v)))))
    out.result()
  }

  /** Near-dup PAIRS → dedup CLUSTERS: connected components over the pair
    * graph by iterated hash-min label propagation with pointer jumping —
    * every doc's label becomes the minimum doc_id reachable from it;
    * keep-one-per-cluster is then `doc_id == cluster_id`.
    *
    * Scale shape: each iteration is two joins + one min-aggregation on
    * doc_id (no collect). Plain hash-min needs diameter iterations; the
    * pointer-jump step (`l(v) ← l(l(v))`, valid because labels only ever
    * decrease and `l(u) ≤ u`) halves every label-chain each round, so
    * convergence is O(log diameter) — a 200-doc transitive chain closes
    * in ~9 rounds, not 200.
    *
    * Fault tolerance + plan control: each iteration's labels MUST leave
    * the Catalyst layer — the pointer-jump self-join doubles the logical
    * plan every round, so an unmaterialized loop goes exponential in
    * analysis time. Labels materialize by re-rooting the DataFrame on
    * its own persisted RDD: flat SQL plan, and blocks recomputable
    * through RDD lineage on loss — never the executor-local unreplicated
    * blocks of `localCheckpoint`, which turn one lost executor into a
    * failed job. On a cluster the persist level is DISK_ONLY_2 (two
    * replicas), so a single executor loss doesn't even trigger
    * recompute. (Reliable `checkpoint()` was rejected here: `unpersist`
    * does not delete checkpoint files, so an iterative loop leaks one
    * directory per round.) The previous iteration is unpersisted once
    * the new one is compared; the edge set is materialized once, not
    * recomputed per iteration.
    *
    * Small integral-keyed pair graphs (at most [[DriverUnionFindMaxEdges]]
    * symmetrized edge rows, no NULL keys) skip the loop: a driver
    * union-find ([[driverComponents]]) computes the same min-id labels
    * in one pass, so that path always converges and `maxIterations` /
    * `requireConvergence` only bound the distributed loop.
    *
    * @param docs  all documents (singletons cluster to themselves)
    * @param pairs near-dup pairs (doc_a, doc_b) from any detector above
    * @param requireConvergence throw if the iteration cap is hit before
    *   the fixpoint — unconverged labels silently split real clusters,
    *   so keep-one-per-cluster would retain near-duplicates; pass false
    *   to accept partial clustering (logged) instead.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
      maxIterations: Int = 20,
      requireConvergence: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    // local[*] is one JVM: a second replica has nowhere to live (Spark
    // would log a downgrade warning every iteration), so replication is
    // reserved for real clusters, where it turns an executor loss into a
    // remote-read instead of a lineage recompute. Locally the labels
    // frame is loop-state-sized and read right back next iteration —
    // memory-first (spilling past the storage fraction) beats paying a
    // disk round-trip per iteration.
    val level =
      if (spark.sparkContext.isLocal) StorageLevel.MEMORY_AND_DISK
      else StorageLevel.DISK_ONLY_2
    // Flat-plan materialization barrier (see scaladoc)
    var lastCount = 0L
    def materialize(df: DataFrame): DataFrame = {
      val fresh = spark.createDataFrame(df.rdd, df.schema).persist(level)
      lastCount = fresh.count()
      fresh
    }
    val edges = materialize(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    if (lastCount == 0) { // clean corpus: all singletons, no iteration
      edges.unpersist(blocking = false)
      return docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
    }
    val edgeRows = lastCount
    // The barrier frames are LogicalRDD leaves with NO size statistics,
    // so Spark's join selection can never broadcast them — every loop
    // join was a full shuffle of BOTH sides, including the edge (and
    // finally the corpus) side, per iteration. The barrier also hands
    // us the EXACT row count of each materialized frame; below the
    // budget the label side broadcasts, so edges/docs never shuffle.
    // Same decide-from-the-one-known-number discipline as
    // Graph.pageRank's maxBroadcastNodes; labels rows are bounded by
    // the pair-graph vertex count, far below the corpus.
    val broadcastLabelRows = 4000000L
    var labelRows = edgeRows // vertices <= symmetrized edge rows
    def labelSide(df: DataFrame): DataFrame =
      if (labelRows <= broadcastLabelRows) broadcast(df) else df
    // Iterate ONLY over the pair-graph's vertex set: a doc with no
    // near-dup edge can never change its label, and in a real corpus
    // near-dup vertices are a small fraction of all docs — the loop's
    // frames scale with |pairs|, not |corpus|. Singletons rejoin at the
    // end via coalesce.
    //
    // Small INTEGRAL-keyed pair graphs close on the driver instead: the
    // distributed loop pays O(log diameter) rounds of fixed shuffle/
    // scheduling cost (measured 8 rounds × ~0.4 s for a 590-pair graph
    // at sf0.1 — the whole of d7's clustering time), where a union-find
    // over the collected edges is one collect + one parallelize. Same
    // capped-driver-with-distributed-fallback discipline as merge's
    // in-set footprint; the cap bounds driver memory to ~tens of MB.
    // Integral keys only: driver min matches Spark's min exactly there,
    // while string ordering differs (UTF-16 vs UTF8-binary comparisons)
    // — non-integral keys and NULL-bearing edges keep the loop.
    val driverLabels: Option[Seq[(Long, Long)]] =
      if (edgeRows > DriverUnionFindMaxEdges) None
      else edges.schema("src").dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val collected = edges.collect()
          if (collected.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
          else Some(driverComponents(collected.map(r =>
            (r.get(0).asInstanceOf[Number].longValue,
              r.get(1).asInstanceOf[Number].longValue))))
        case _ => None
      }
    var labels = driverLabels match {
      case Some(lab) =>
        import spark.implicits._
        labelRows = lab.size.toLong
        val keyT = edges.schema("src").dataType
        lab.toDF("doc_id", "cluster_id")
          .select(col("doc_id").cast(keyT).as("doc_id"),
            col("cluster_id").cast(keyT).as("cluster_id"))
      case None => edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id"))
    }
    var prev: Option[DataFrame] = None
    var converged = driverLabels.isDefined
    var i = 0
    while (!converged && i < maxIterations) {
      val viaNeighbors = edges
        .join(labelSide(labels.withColumnRenamed("doc_id", "dst")),
          Seq("dst"))
        .select(col("src").as("doc_id"), col("cluster_id"))
      val improved = labels.union(viaNeighbors)
        .groupBy("doc_id")
        .agg(min("cluster_id").as("cluster_id"))
      // pointer jump: relabel through the label's own (improved) label —
      // sound because labels only decrease and l(u) <= u
      val jumped = improved.as("a")
        .join(improved.as("b"), col("a.cluster_id") === col("b.doc_id"))
        .select(col("a.doc_id"), col("b.cluster_id").as("cluster_id"))
      // fuse the changed-flag into the materialized frame: ONE compute
      // job per iteration; the convergence check is then just a scan of
      // the freshly cached blocks, not a re-executed join
      val flagged = jumped
        .join(labelSide(
            labels.select(col("doc_id"), col("cluster_id").as("__old"))),
          Seq("doc_id"))
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") =!= col("__old")).as("__chg"))
      val next = materialize(flagged)
      labelRows = lastCount // exact: feeds the next broadcast decision
      val changed = next.filter(col("__chg")).limit(1).count()
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(next)
      labels = next.drop("__chg")
      converged = changed == 0
      i += 1
    }
    edges.unpersist(blocking = false)
    if (!converged) {
      val msg = s"dedupClusters did not converge within $maxIterations " +
        "iterations: labels are a partial clustering (real clusters may " +
        "be split, so keep-one-per-cluster would retain near-duplicates)"
      if (requireConvergence) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    docs.select(col("doc_id"))
      .join(labelSide(labels.withColumnRenamed("cluster_id", "__cl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__cl"), col("doc_id")).as("cluster_id"))
  }

  /** Edit-distance near-dup pairs: MinHash-LSH candidate generation
    * (shared with [[minHashNearDups]]), verified by character-level
    * Levenshtein distance ≤ `maxDist` instead of shingle Jaccard — the
    * verification modality for short structural edits (typo fixes,
    * template fills) that barely move set similarity.
    *
    * Scale shape: `levenshtein` is O(len²) per pair, so it is gated
    * behind the free length-difference prefilter (|len(a)−len(b)| >
    * maxDist already implies distance > maxDist) and only runs on the
    * bucket-bounded candidate set, never all pairs. */
  def editDistanceDups(docs: DataFrame, k: Int = 16, bands: Int = 4,
      maxDist: Int = 20, maxBucket: Int = 10000): DataFrame = {
    val sh = shingles(docs)
    val cands = lshCandidates(minHashSignatures(sh, k), k, bands, maxBucket)
    val texts = docs.select(col("doc_id"), col("text"))
    cands
      .join(texts.toDF("doc_a", "text_a"), Seq("doc_a"))
      .join(texts.toDF("doc_b", "text_b"), Seq("doc_b"))
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("text_a"), col("text_b")).cast("long"))
      .filter(col("edit_dist") <= maxDist)
      .select("doc_a", "doc_b", "edit_dist")
  }

  /** SimHash fingerprints (`bits` wide, ≤ 60): per token-hash bit,
    * sum ±1 over the doc's tokens (with multiplicity); bit j of the
    * fingerprint = sign of sum_j. One explode + one aggregation. */
  def simHash(docs: DataFrame, bits: Int = 48): DataFrame = {
    val toks = docs
      .withColumn("__tok", explode(TextFns.tokensWs(lower(col("text")))))
      .withColumn("__h", TextFns.hash60(col("__tok")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("__h"), j) % 2 === 1, 1).otherwise(-1)).as(s"s_$j")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until bits).map { j =>
          when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _))
      .select("doc_id", "simhash")
  }

  /** SimHash near-dup pairs: band the fingerprint into `chunks` equal bit
    * ranges, join on chunk equality, verify with exact
    * bit_count(xor) ≤ maxHamming.
    *
    * Recall contract: the pigeonhole guarantees candidates only for
    * hamming ≤ chunks−1 (with the defaults, ≤ 3); pairs with hamming in
    * (chunks−1, maxHamming] surface only if some chunk happens to agree —
    * the same recall-limited banding trade as MinHash LSH. A full
    * maxHamming guarantee needs chunks > maxHamming, at the cost of
    * narrower chunks and a larger candidate join.
    *
    * Skew guard: chunk-buckets larger than `maxBucket` are dropped
    * (with singleton buckets, which cannot pair) before the self-join —
    * same rationale as [[lshCandidates]]. */
  def simHashNearDups(docs: DataFrame, bits: Int = 48, chunks: Int = 4,
      maxHamming: Int = 6, maxBucket: Int = 10000): DataFrame = {
    require(chunks > 0 && bits % chunks == 0,
      s"chunks ($chunks) must divide bits ($bits)")
    val width = bits / chunks
    val fp = simHash(docs, bits)
    val chunked = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col("simhash"), c * width) % (1L << width)
      }: _*)).as(Seq("chunk_idx", "chunk")))
    val banded = SkewGuard.capBuckets(chunked, Seq("chunk_idx", "chunk"),
      maxBucket, minSize = 2)
    // Hamming filter BEFORE the candidate-dedup distinct: the per-row
    // bit_count is nearly free, while distinct shuffles its whole input —
    // filtering first shrinks that shuffle to surviving pairs only
    // (same result; filter and duplicate-elimination commute).
    banded.as("x").join(banded.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Corpus-level LINE dedup (the C4 recipe): drop every line whose
    * exact text occurs >= `minDupCount` times ACROSS the corpus —
    * boilerplate (cookie banners, nav bars, license footers) repeats
    * verbatim on thousands of pages while real prose doesn't, so a
    * global line-frequency threshold removes it without any
    * per-site rules. Documents keep their surviving lines in original
    * order; a fully-boilerplate document comes back with empty
    * `clean_text` (still present — dropping rows is the CALLER's
    * policy decision).
    *
    * Scale shape: the frequency pass is one map-side-combined hash
    * aggregate over the exploded lines (shuffles distinct lines per
    * task, not rows); the removal anti-join shuffles lines once more;
    * the rebuild groups by doc_id. At reference-set-like ratios the
    * anti-join side can be bloom-pre-pruned with
    * [[Decontaminate.bloomPrune]] (lines whose filter probe misses are
    * provably non-duplicates and skip the shuffle); at C4-like dup
    * densities the plain two-shuffle form is already the right plan. */
  def lineDedup(docs: DataFrame, minDupCount: Long = 3): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .toDF("doc_id", "pos", "line")
    val dups = lines.groupBy("line")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minDupCount)
      .select("line")
    val rebuilt = lines.join(dups, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"))
    docs.select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }
}
