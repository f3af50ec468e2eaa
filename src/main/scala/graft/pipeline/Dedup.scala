package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard similarity joins — all expressed
  * with codegen'd built-in functions (no UDFs), designed so the pairwise work
  * is bounded by LSH candidate generation rather than O(n²).
  *
  * Scale design:
  *  - shingling/minhashing is a narrow map (`transform`/`aggregate` higher-
  *    order functions) — no shuffle;
  *  - candidate generation shuffles once on (band, bandHash) buckets;
  *  - verification joins only candidate pairs back to their shingle sets.
  */
object Dedup {

  /** Exact dedup: keep one survivor per duplicate group, lowest tiebreak
    * first (hash-groupBy under the hood — one shuffle on the dup key).
    */
  def exact(df: DataFrame, dupCols: Seq[String], tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(dupCols.map(col): _*).orderBy(col(tiebreakCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private val MersennePrime = 2147483647L // 2^31-1: a*x stays in Long range

  /** Deterministic (a,b) permutation parameters — delegates to the single
    * shared generator in [[graft.functions.MinHashSignature.permParams]] so
    * the composed formulation cannot drift from the codegen'd expression.
    */
  private def permParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val (as, bs) = graft.functions.MinHashSignature.permParams(numHashes, seed)
    as.toSeq.zip(bs.toSeq)
  }

  /** Materialize an intermediate frame that feeds MULTIPLE plan branches.
    * A method-scoped persist would be released before the caller's action
    * plans (dead cache → full recompute per branch), so the plan itself is
    * truncated at the materialized rows. With a configured
    * `sparkContext.setCheckpointDir` the blocks go to RELIABLE storage and
    * survive executor loss — set one on clusters with dynamic allocation /
    * spot instances; otherwise `localCheckpoint` keeps blocks on executors
    * (fastest, but an executor loss fails the query, which then simply
    * re-runs — data is never corrupted).
    */
  private[pipeline] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Normalized word tokens of a text column. */
  def tokenize(textCol: Column): Column =
    split(trim(regexp_replace(lower(textCol), "[^a-z0-9]+", " ")), " ")

  /** Hashed word n-gram shingles of a token-array column (31-bit ints,
    * distinct) — the codegen'd single-pass
    * [[graft.functions.HashedShingles]] expression.
    * [[shinglesFromTokensComposed]] is the built-in-functions formulation
    * it replaced (kept as the equivalence-spec reference): that form pays
    * an interpreted lambda dispatch per gram (higher-order functions don't
    * codegen) plus n shifted arrays per row.
    */
  def shinglesFromTokens(tokensCol: Column, n: Int): Column =
    org.apache.spark.sql.graft.SparkBridge.column(
      graft.functions.HashedShingles(
        org.apache.spark.sql.graft.SparkBridge.expression(tokensCol), n))

  /** Composed-built-ins shingles: same grams, hashes and distinct order as
    * [[shinglesFromTokens]] — `arrays_zip` of n shifted slices with the
    * transform lambda touching ONLY its own struct element (the naive
    * `transform(sequence(...), i => hash(slice(tokens, i, n)))` re-evaluates
    * the whole token expression per gram — Catalyst CSE does not descend
    * into lambda bodies; measured ~10× slower). Retained as the spec oracle
    * for the codegen'd expression.
    */
  def shinglesFromTokensComposed(tokensCol: Column, n: Int): Column = {
    val gramCount = greatest(size(tokensCol) - n + 1, lit(1))
    val shifted = (0 until n).map(k => slice(tokensCol, lit(k + 1), gramCount))
    val zipped = arrays_zip(shifted: _*)
    val grams = transform(slice(zipped, lit(1), gramCount), s =>
      pmod(xxhash64(concat_ws(" ",
        (0 until n).map(i => s.getField(i.toString)): _*)), lit(MersennePrime)))
    array_distinct(grams)
  }

  /** Word n-gram shingles of `textCol` (convenience; prefer materializing
    * [[tokenize]] into a column and calling [[shinglesFromTokens]]).
    */
  def shingles(textCol: Column, n: Int): Column =
    shinglesFromTokens(tokenize(textCol), n)

  /** Project (id, shingles) with the token array materialized between two
    * projections so the tokenizer runs once per row, not once per gram.
    */
  private def shingleDF(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // widened first: tokenize+shingle+minhash is the pipeline's per-row CPU
    // hot spot, and a single-split input would otherwise run it one-core
    // (see [[Parallelize.widen]] — a no-op at production partition counts)
    Parallelize.widen(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), tokenize(col("__t")).as("__toks"))
      .select(col("__id"), shinglesFromTokens(col("__toks"), n).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** MinHash signature (array of `numHashes` min-values) over a shingle-hash
    * array column: sig_i = min over shingles of (a_i*x + b_i) mod P.
    *
    * Computed by the codegen'd single-pass [[graft.functions.MinHashSignature]]
    * expression — one traversal of the shingle array, zero per-row
    * allocation. [[minhashSignatureComposed]] is the built-in-functions
    * formulation it replaced (kept as the equivalence-spec reference).
    *
    * Input contract: shingle values must lie in `[0, 2^31)` (as
    * [[shinglesFromTokens]] guarantees) — outside that range the expression
    * wraps on overflow where the composed ANSI-mode form throws.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int, seed: Long = 42L): Column =
    org.apache.spark.sql.graft.SparkBridge.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graft.SparkBridge.expression(shingleCol), numHashes, seed))

  /** Composed-built-ins MinHash signature: same permutation family and
    * numeric results as [[minhashSignature]], but `numHashes` independent
    * `array_min(transform(...))` passes (k array materializations per row).
    * Retained as the spec oracle for the codegen'd expression.
    */
  def minhashSignatureComposed(shingleCol: Column, numHashes: Int, seed: Long = 42L): Column = {
    val params = permParams(numHashes, seed)
    array(params.map { case (a, b) =>
      array_min(transform(shingleCol, x => pmod(x * lit(a) + lit(b), lit(MersennePrime))))
    }: _*)
  }

  /** Distinct (idA < idB) candidate pairs from bucketed rows, in ONE shuffle
    * of the bucket rows.
    *
    * Input: one row per (bucket member), with `keyCols` naming the bucket and
    * `__id` / `__sz` the member id and its shingle-set size. Members of each
    * bucket are gathered with `collect_list` and pairs stream out of two
    * chained `explode` generators — replacing the two-sided self-join on the
    * bucket key, which shuffled (and sorted) the bucket rows TWICE and met
    * the same per-key quadratic output anyway. Generators iterate; nothing
    * quadratic is materialized.
    *
    * `maxBucket` bounds BOTH the emitted buckets and the aggregation buffer:
    * the member gather is [[graft.functions.CollectListCapped]], which stops
    * accumulating at `maxBucket + 1` elements, so a pathologically hot
    * bucket (an identical-doc clump, a boilerplate gram) costs O(maxBucket)
    * buffer memory — not O(bucket size) — and is then dropped by the size
    * filter exactly as an uncapped gather would have been. No second count
    * pass, no upstream recompute: the hard memory bound rides the SAME
    * single shuffle.
    *
    * `sizeRatio` applies the exact Jaccard length filter: J(A,B) ≤
    * min(|A|,|B|)/max(|A|,|B|), so for a verification threshold `t` any pair
    * with size ratio below `t` can never verify — dropping it BEFORE the
    * pair-dedup shuffle and the verification joins loses nothing.
    *
    * Output: (idA, idB, szA, szB, cnt) with idA < idB, one row per id pair;
    * `cnt` is the number of buckets the pair shared — the pair-dedup shuffle
    * is a groupBy either way, so the count is free, and for gram buckets it
    * IS the shingle-intersection size over the bucketed grams (each distinct
    * gram contributes exactly one bucket). The `__sz` payload rides along so
    * callers can verify from it directly (simhash passes the hash value
    * itself).
    */
  /** Buffer-bounded member gather (see [[graft.functions.CollectListCapped]]). */
  private def collectListCapped(c: Column, cap: Int): Column =
    org.apache.spark.sql.graft.SparkBridge.column(
      graft.functions.CollectListCapped(
        org.apache.spark.sql.graft.SparkBridge.expression(c), cap).toAggregateExpression())

  private def bucketPairs(
      buckets: DataFrame,
      keyCols: Seq[String],
      maxBucket: Int,
      sizeRatio: Option[Double]): DataFrame = {
    // the gather exchange is PINNED at the session's shuffle parallelism
    // (an explicit-N repartition on the grouping key reuses the exchange —
    // EnsureRequirements sees the hash partitioning already satisfies the
    // aggregation — so this adds no shuffle): AQE coalesces post-shuffle
    // partitions by BYTES, and the bucket rows upstream of the pair
    // generators are tiny even when the generated pair mass is large —
    // left to AQE, the whole quadratic explode of a small corpus lands on
    // ONE task (measured: 4.4M candidate pairs generated and pre-aggregated
    // on a single core, 2-3 s, while 31 cores idled)
    val shuffleParts =
      buckets.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = buckets
      .repartition(shuffleParts, keyCols.map(col): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(collectListCapped(struct(col("__id"), col("__sz")), maxBucket).as("__ms"))
      .filter(size(col("__ms")).between(2, maxBucket))
      .select(explode(col("__ms")).as("__a"), col("__ms"))
      .select(col("__a"), explode(col("__ms")).as("__b"))
      .filter(col("__a.__id") < col("__b.__id"))
    val ratioed = sizeRatio.fold(pairs) { t =>
      pairs.filter(
        least(col("__a.__sz"), col("__b.__sz")) >=
          greatest(col("__a.__sz"), col("__b.__sz")) * t)
    }
    ratioed
      .groupBy(
        col("__a.__id").as("idA"), col("__b.__id").as("idB"),
        col("__a.__sz").as("szA"), col("__b.__sz").as("szB"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * @param maxBucketSize drop LSH buckets with more members than this: a
    *        bucket at that size is an exact-duplicate mass (handle with
    *        [[exact]]) whose member list would dominate an aggregation
    *        buffer; pairs within it are O(bucket²) non-signal
    * @return (idA, idB, jaccard) with idA < idB and exact-shingle jaccard ≥
    *         threshold; candidates come from banded signature buckets, so
    *         pairwise verification cost is proportional to collisions.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Int = 1 << 20): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    // materialized, NOT persisted: the shingle frame feeds THREE plan
    // branches (banding + both verification joins) — a method-scoped
    // persist would be dead before the caller's action plans and each
    // branch would re-tokenize the corpus (measured: 3 full scans in the
    // executed plan). See [[materialize]] for the fault-tolerance knob.
    val withSh = materialize(shingleDF(df, idCol, textCol, n))
    val banded = bandedSignatures(withSh, numHashes, bands, seed)

    val candidates =
      bucketPairs(banded, Seq("band", "bh"), maxBucketSize, Some(threshold))

    candidates
      .join(withSh.select(col("__id").as("idA"), col("__sh").as("shA")), "idA")
      .join(withSh.select(col("__id").as("idB"), col("__sh").as("shB")), "idB")
      .withColumn("__inter", size(array_intersect(col("shA"), col("shB"))).cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("shA")) + size(col("shB")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }

  /** One row per (doc, band): bucket key = xxhash64 of the band's signature
    * slice (hashing the array directly — a different bucket hash never
    * changes the verified output: same-slice pairs collide under ANY hash,
    * and differing-slice accidental collisions are removed by exact
    * verification). Candidates travel as bare id pairs — shingle arrays
    * only rejoin after dedup, so the candidate shuffle stays narrow even
    * with hot buckets. */
  private def bandedSignatures(withSh: DataFrame, numHashes: Int, bands: Int,
      seed: Long): DataFrame = {
    val rows = numHashes / bands
    withSh
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes, seed))
      .select(
        col("__id"), size(col("__sh")).as("__sz"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("__sig"), b * rows + 1, lit(rows))).as("bh"))))
          .as("__b"))
      .select(col("__id"), col("__sz"), col("__b.band"), col("__b.bh"))
  }

  /** Dedup via MinHash-LSH: drop every doc that near-duplicates a lower id. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val losers = minhashLshPairs(df, idCol, textCol, threshold = threshold)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs BETWEEN two corpora (incremental-ingest shape):
    * for each doc in `newDf`, the docs of `refDf` it near-duplicates. Same
    * signature family and banding as [[minhashLshPairs]], so the recall
    * argument is identical; candidates come from joining the new side's
    * band rows against the reference side's bucketed member lists:
    *
    *  - ONE aggregation shuffle builds the reference buckets (capped member
    *    gather — a hot bucket costs O(maxBucketSize) buffer, then drops),
    *  - ONE join shuffle probes them with the new side's band rows; pairs
    *    stream out of a generator, nothing quadratic materializes,
    *  - the exact Jaccard length filter prunes before the pair-dedup
    *    shuffle, and only surviving pairs rejoin their shingle arrays for
    *    exact verification (no false positives).
    *
    * At scale the reference corpus is the BIG side (the accumulated
    * historical data) and `newDf` the small one (today's ingest) — both
    * stay distributed; nothing here is driver- or broadcast-sized. The
    * reference bucket build is also the natural artifact to persist as a
    * table and reuse across ingest batches (build once, probe daily).
    *
    * @return (idNew, idRef, jaccard) with exact-shingle jaccard ≥ threshold
    */
  def minhashCrossPairs(
      newDf: DataFrame,
      refDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Int = 1 << 20): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val shNew = materialize(shingleDF(newDf, idCol, textCol, n))
    val shRef = materialize(shingleDF(refDf, idCol, textCol, n))

    val refBuckets = bandedSignatures(shRef, numHashes, bands, seed)
      .groupBy(col("band"), col("bh"))
      .agg(collectListCapped(struct(col("__id"), col("__sz")), maxBucketSize).as("__ms"))
      .filter(size(col("__ms")) <= maxBucketSize)

    val candidates = bandedSignatures(shNew, numHashes, bands, seed)
      .join(refBuckets, Seq("band", "bh"))
      .select(col("__id").as("idNew"), col("__sz").as("szNew"),
        explode(col("__ms")).as("__r"))
      .select(col("idNew"), col("szNew"),
        col("__r.__id").as("idRef"), col("__r.__sz").as("szRef"))
      .filter(
        least(col("szNew"), col("szRef")) >=
          greatest(col("szNew"), col("szRef")) * threshold)
      .groupBy("idNew", "idRef").agg(count(lit(1)).as("cnt"))

    candidates
      .join(shNew.select(col("__id").as("idNew"), col("__sh").as("shN")), "idNew")
      .join(shRef.select(col("__id").as("idRef"), col("__sh").as("shR")), "idRef")
      .withColumn("__inter", size(array_intersect(col("shN"), col("shR"))).cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("shN")) + size(col("shR")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("idNew"), col("idRef"), col("jaccard"))
  }

  /** Incremental-ingest dedup: `newDf` minus every doc that near-duplicates
    * ANY doc of the reference corpus (id spaces of the two sides are
    * independent — nothing is compared within `newDf` itself; compose with
    * [[minhashDedup]]/[[minhashDedupClusters]] for intra-batch dedup). */
  def minhashDedupAgainst(newDf: DataFrame, refDf: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8): DataFrame = {
    val hit = minhashCrossPairs(newDf, refDf, idCol, textCol,
      threshold = threshold)
      .select(col("idNew").as(idCol)).distinct()
    newDf.join(hit, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-duplicate pair set: every id that
    * appears in `pairs` is labeled with the MINIMUM id of its transitive
    * component (A~B, B~C ⇒ A, B, C share one cluster even with no A~C edge).
    *
    * Two-tier execution, the same small-side/large-side split as broadcast
    * vs shuffle join selection:
    *
    *  - pair sets up to `maxDriverEdges` (default 1M edges; the bounded
    *    probe collects two-column Rows, ~100 MB worst case on the default)
    *    run WEIGHTED-UNION find on the driver in one pass — the pair set is
    *    the near-DUPLICATE graph, not the corpus, so in practice it is
    *    orders of magnitude smaller than the data; an iterative distributed
    *    loop over a few thousand edges would be pure scheduling overhead.
    *    The collect is explicitly bounded (`take(maxDriverEdges + 1)`),
    *    never corpus-sized; note the probe's evaluation of the pair
    *    pipeline is re-run by the distributed tier when the bound trips —
    *    the price of not knowing the graph size up front.
    *  - beyond the bound, iterative min-label propagation with pointer
    *    jumping in pure DataFrame ops: each round lowers every node's label
    *    to the min over {own, neighbors'} labels in one edges-join + one
    *    aggregation (the previous label rides the same aggregation, so
    *    convergence needs no extra join), then shortcuts label chains one
    *    hop (label ← label(label)) — an L-long chain collapses in O(log L)
    *    rounds. Per-round persist truncates lineage; one full-scan action
    *    per round materializes the iterate and decides convergence.
    *
    * @return (id, cluster) — one row per id occurring in `pairs`
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 50, maxDriverEdges: Int = 1000000): DataFrame = {
    val probe = pairs.select(col(aCol), col(bCol)).take(maxDriverEdges + 1)
    if (probe.length <= maxDriverEdges) driverUnionFind(pairs, aCol, bCol, probe)
    else distributedComponents(pairs, aCol, bCol, maxIterations)
  }

  /** Driver-side weighted union-find over a BOUNDED edge array (small tier
    * of [[connectedComponents]]); ids compare via their natural ordering.
    */
  private def driverUnionFind(pairs: DataFrame, aCol: String, bCol: String,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val rank = scala.collection.mutable.HashMap.empty[Any, Int]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { e =>
      val (a, b) = (e.get(0), e.get(1))
      Seq(a, b).foreach(v => if (!parent.contains(v)) { parent(v) = v; rank(v) = 0 })
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(rb) < rank(ra)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = rank(ra) + 1 }
      }
    }
    // String ids order in UTF-8 byte space — the same order Spark's min()
    // (and a relational oracle) would pick the cluster representative in.
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) => graft.tables.Utf8Order.lt(a, b)
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { v =>
      val r = find(v)
      if (!minOfRoot.contains(r) || lt(v, minOfRoot(r))) minOfRoot(r) = v
    }
    val idType = pairs.schema(aCol).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster", idType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    parent.keys.foreach(v =>
      rows.add(org.apache.spark.sql.Row(v, minOfRoot(find(v)))))
    pairs.sparkSession.createDataFrame(rows, schema)
  }

  /** Distributed tier of [[connectedComponents]] (see its doc). */
  private def distributedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int): DataFrame = {
    // symmetric edge list, pre-partitioned on the join key ONCE: the cached
    // partitioning satisfies every round's join distribution, so only the
    // (much smaller) label side shuffles per round
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .repartition(col("dst")).persist()
    try {
      var labels: DataFrame = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
      var converged = false
      var iter = 0
      while (!converged && iter < maxIterations) {
        iter += 1
        // min over {own label} ∪ {neighbor labels} in ONE join + ONE
        // aggregation; the own-label branch rides a marker column so the
        // node's PREVIOUS label comes out of the same aggregation (it is
        // unique per id) — no separate convergence join later
        val viaEdges = edges
          .join(labels.select(col("id").as("dst"), col("label")), "dst")
          .select(col("src").as("id"), col("label"), lit(false).as("__own"))
        val prop = viaEdges
          .union(labels.select(col("id"), col("label"), lit(true).as("__own")))
          .groupBy(col("id"))
          .agg(min(col("label")).as("__new"),
            max(when(col("__own"), col("label"))).as("__old"))
        // pointer jump: follow one label link (labels are node ids, so the
        // link target always exists; left+coalesce is belt-and-braces)
        val lookup = prop.select(col("id").as("__lid"), col("__new").as("__ll"))
        // materialized (see [[materialize]]), NOT persisted: `prop` appears
        // twice in the jump self-join and `labels` twice in `prop`, so the
        // LOGICAL plan quadruples per round — a cache only truncates
        // physical execution, and tree walks (explain, UI) blow up
        // exponentially after ~10 rounds. Rebasing each round's plan on the
        // materialized rows keeps it constant-size.
        val next = prop.join(lookup, prop("__new") === lookup("__lid"), "left")
          .select(col("id"), coalesce(col("__ll"), col("__new")).as("label"),
            col("__old"))
          .transform(materialize)
        val changed = next
          .agg(count(when(col("label") =!= col("__old"), lit(1))))
          .first().getLong(0)
        converged = changed == 0
        labels = next.select(col("id"), col("label"))
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIterations rounds — " +
            "raise maxIterations (pointer jumping needs ~log2 of the longest chain)")
      labels.select(col("id"), col("label").as("cluster"))
    } finally { edges.unpersist(); () }
  }

  /** Cluster-complete dedup via MinHash-LSH: ONE survivor (the minimum id)
    * per transitive near-duplicate cluster — the closure [[minhashDedup]]
    * lacks (edge-wise, A~B~C could keep both A and C).
    */
  def minhashDedupClusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, threshold = threshold)
    val losers = connectedComponents(pairs, "idA", "idB")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cluster-complete dedup keeping the BEST doc per transitive near-dup
    * cluster — ranked by `scoreCol` descending (quality score, token count,
    * recency...), ties broken by lowest id — where [[minhashDedupClusters]]
    * always keeps the lowest id. This is the survivorship rule real
    * curation uses: when five near-identical crawls of a page cluster
    * together, keep the longest/cleanest one, not the one with the
    * smallest id.
    *
    * Scale shape: the cluster labels are the CC output (near-dup mass,
    * orders smaller than the corpus); the rank runs only over labeled rows
    * (one window over cluster-labeled docs), and unlabeled docs — the
    * overwhelming majority — bypass both the join and the window via the
    * anti-join composition.
    */
  def minhashDedupClustersBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, threshold = threshold)
    val cc = connectedComponents(pairs, "idA", "idB")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col(scoreCol).desc, col("id"))
    val losers = cc
      .join(df.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Portable 32-bit token hash: the first 8 hex chars of md5, as a long.
    * Slower than [[functions.xxhash64]] but reproducible in any engine that
    * has md5 — used when SimHash output must be verified externally.
    */
  def md5TokenHash32(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** The `bits`-wide SimHash of a token-array column: the codegen'd
    * [[graft.functions.SimHashFold]] over `transform(tokens, tokenHash)` —
    * the one SimHash implementation behind [[simhash]], [[simhashColumn]]
    * and the SQL `simhash()`.
    */
  private def simhashOfTokens(tokensCol: Column, bits: Int,
      tokenHash: Column => Column): Column =
    org.apache.spark.sql.graft.SparkBridge.column(
      graft.functions.SimHashFold(
        org.apache.spark.sql.graft.SparkBridge.expression(transform(tokensCol, tokenHash)),
        bits))

  /** [[tokenize]] without the empty token an empty or all-separator text
    * tokenizes to. */
  private def words(textCol: Column): Column = array_remove(tokenize(textCol), "")

  /** SimHash over word tokens: bit i of the hash is set when more token
    * occurrences have bit i of their hash set than clear. A per-row
    * projection — one [[graft.functions.SimHashFold]] pass over each
    * document's token hashes, no shuffle. Rows with null text or no tokens
    * are dropped. `idCol` is carried, not grouped: two rows with one id
    * hash separately.
    *
    * @param bits      hash width in bits (default 64)
    * @param tokenHash per-token hash column builder; default xxhash64 (fast),
    *                  [[md5TokenHash32]] for cross-engine reproducibility
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, tokenHash: Column => Column = xxhash64(_)): DataFrame =
    // the token list comes out of a one-row generator so that the no-token
    // filter stays above it: pushed into the projection, the filter would
    // tokenize every text a second time. The hash is non-null past that
    // filter; coalesce tells the optimizer so, and a caller's null filter
    // (hammingPairs') folds away instead of hashing every text again.
    df.select(col(idCol), explode(array(words(col(textCol)))).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        coalesce(simhashOfTokens(col("__toks"), bits, tokenHash), lit(0L)).as("simhash"))

  /** Per-row (scalar) SimHash of a text column with xxhash64 token hashes —
    * the same kernel as [[simhash]], usable as a SQL function and inside
    * scans. A document with no tokens hashes to 0; null text propagates
    * null.
    */
  def simhashColumn(textCol: Column, bits: Int = 64): Column =
    simhashOfTokens(words(textCol), bits, xxhash64(_))

  /** SimHash near-duplicate pairs with hamming distance ≤ `maxHamming`
    * ([[simhash]] then [[hammingPairs]]; lazy, one Spark execution per
    * action). Pigeonhole banding: split the `bits`-wide hash into
    * `maxHamming + 1` chunks — any pair within the distance agrees on ≥1
    * chunk, so candidates come from shared chunk values (100% recall, not
    * probabilistic); `bit_count(xor)` verifies exactly. `idCol` is a key:
    * two rows with one id hash separately.
    *
    * @param maxBucketSize two-level cap (see [[hammingPairs]]): exact-
    *        duplicate groups with more members than this are dropped whole,
    *        and chunk-value buckets holding more than this many DISTINCT
    *        hash values are dropped — the pigeonhole recall guarantee holds
    *        for every pair with at least one surviving shared bucket.
    *        Groups UNDER the cap emit all their hamming-0 member pairs
    *        (output-bound); collapse exact-duplicate mass with [[exact]]
    *        first when those pairs are not wanted.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 64,
      tokenHash: Column => Column = xxhash64(_),
      maxBucketSize: Int = 1 << 20): DataFrame = {
    val hashed = simhash(df, idCol, textCol, bits, tokenHash)
    hammingPairs(hashed, idCol, "simhash", maxHamming, bits, maxBucketSize)
  }

  /** All id pairs whose LONG hash values differ in at most `maxHamming`
    * bits — the chunk-banding join shared by [[simhashPairs]] and
    * perceptual-hash image/audio dedup ([[Multimodal.imageNearDupPairs]]).
    * Rows with a null hash are skipped; `idCol` is treated as a key
    * (verbatim duplicate rows are deduped; an id under two different
    * hashes is caller-defined, though self-edges are never emitted). EXACT
    * by pigeonhole: `maxHamming + 1` chunks mean every qualifying pair
    * shares at least one whole chunk (100% recall, not probabilistic);
    * `bit_count(xor)` verifies exactly.
    *
    * One lazy plan, three shuffles, nothing run when called:
    *  1. gather — the (capped) member list of each DISTINCT hash, so a
    *     duplicate-heavy corpus bands once per hash value, not per copy;
    *  2. band — each hash becomes its `maxHamming + 1` chunk rows, carrying
    *     (hash, members) as payload; a group of ≥2 members adds one
    *     `chunk = -1, cv = hash` row, so same-hash pairs come out of the
    *     same bucket generator; one capped gather per (chunk, cv);
    *  3. pairs — one generator emits the hash pairs within `maxHamming`
    *     plus each -1 bucket's self-pair, deduplicated across shared chunks
    *     on the hash pair, then the member lists expand into id pairs.
    * The upstream feeds exactly one exchange, so it runs once by
    * construction.
    *
    * `maxBucketSize` caps both levels: exact-duplicate GROUPS over the cap
    * drop whole (their member gather must fit an aggregation buffer), and
    * chunk buckets holding more than the cap's worth of DISTINCT hash
    * values drop whole; a qualifying pair survives if ANY of its shared
    * chunk buckets survives. Under-cap duplicate groups emit all their
    * hamming-0 member pairs — output-inherent for the all-pairs contract.
    */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, bits: Int = 64,
      maxBucketSize: Int = 1 << 20): DataFrame = {
    val chunks = maxHamming + 1
    // integer division may leave the top bits un-banded — pigeonhole still
    // holds: ≤ maxHamming total diffs can dirty at most maxHamming of the
    // maxHamming+1 chunks, wherever the diffs fall
    val chunkBits = bits / chunks
    require(chunkBits >= 1, s"bits=$bits too narrow for ${chunks} chunks")
    val mask = (1L << chunkBits) - 1
    // both gathers are pinned at the session's shuffle parallelism for the
    // same reason as [[bucketPairs]]: the generated pair mass is invisible
    // to AQE's bytes-based coalescing
    val shuffleParts =
      hashed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

    // 1. gather by hash. dropDuplicates rides the same hash-partitioned
    // exchange, so duplicate (id, hash) ROWS — e.g. from an upstream join —
    // cannot double-count a member; groups over the cap drop whole
    val grouped = hashed.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .repartition(shuffleParts, col("__h"))
      .dropDuplicates("__h", "__id")
      .groupBy(col("__h"))
      .agg(collectListCapped(col("__id"), maxBucketSize).as("__ms"))
      .filter(size(col("__ms")) <= maxBucketSize)

    // 2. band: chunk rows per hash, plus the same-hash row of a group
    val bandRows = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("__h"), c * chunkBits).bitwiseAND(lit(mask)).as("cv"))
    } :+ struct(lit(-1).as("chunk"), col("__h").as("cv"))
    val buckets = grouped
      .select(col("__h"), col("__ms"), explode(array(bandRows: _*)).as("__c"))
      .filter(col("__c.chunk") >= 0 || size(col("__ms")) >= 2)
      .select(col("__c.chunk").as("chunk"), col("__c.cv").as("cv"),
        struct(col("__h"), col("__ms")).as("__e"))
      .repartition(shuffleParts, col("chunk"), col("cv"))
      .groupBy(col("chunk"), col("cv"))
      .agg(collectListCapped(col("__e"), maxBucketSize).as("__es"))
      .filter(size(col("__es")) <= maxBucketSize &&
        (size(col("__es")) >= 2 || col("chunk") === -1))

    // 3. pairs: the -1 buckets hold one hash and yield its self-pair; the
    // distinct collapses a hash pair met in several chunk buckets (hamming
    // and both member lists are functions of the hash pair)
    buckets
      .select(col("chunk"), explode(col("__es")).as("__a"), col("__es"))
      .select(col("chunk"), col("__a"), explode(col("__es")).as("__b"))
      .withColumn("hamming", bit_count(col("__a.__h").bitwiseXOR(col("__b.__h"))))
      .filter(col("chunk") === -1 ||
        (col("__a.__h") < col("__b.__h") && col("hamming") <= maxHamming))
      .select(col("__a.__h").as("__hA"), col("__b.__h").as("__hB"), col("hamming"),
        col("__a.__ms").as("__ma"), col("__b.__ms").as("__mb"))
      .distinct()
      .select(col("__hA"), col("__hB"), col("hamming"),
        explode(col("__ma")).as("__ia"), col("__mb"))
      .select(col("__hA"), col("__hB"), col("hamming"), col("__ia"),
        explode(col("__mb")).as("__ib"))
      // members of one hash pair once each way; across two hashes an id
      // listed under both (degenerate input — idCol is a key) would pair
      // with itself, and self-edges are never emitted
      .filter(when(col("__hA") === col("__hB"), col("__ia") < col("__ib"))
        .otherwise(col("__ia") =!= col("__ib")))
      .select(least(col("__ia"), col("__ib")).as("idA"),
        greatest(col("__ia"), col("__ib")).as("idB"), col("hamming"))
  }

  /** Exact n-gram Jaccard similarity join via an inverted-index equi-join on
    * shared grams (prefix-count pruning happens naturally: pairs sharing no
    * gram never meet). One shuffle on gram, one on the pair key.
    *
    * `maxGramDf` caps a gram's document frequency: a gram present in more
    * than that many documents (boilerplate headers, licence text) generates
    * ~df² candidate pairs while carrying no near-dup signal, which is the
    * scale-killer of inverted-index joins at 100 TB. Hot grams are dropped
    * from CANDIDATE GENERATION only — surviving pairs verify against the
    * full shingle sets, so reported jaccard values are exact and precision
    * is unaffected. The (accepted) recall trade: a pair whose shared grams
    * are ALL hotter than the cap is missed.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxGramDf: Int = 100000): DataFrame = {
    // materialized, not persisted — same three-branch reuse rationale as
    // minhashLshPairs (postings + both verification joins)
    val withSh = materialize(shingleDF(df, idCol, textCol, n))
    // postings carry (gram, id, setSize) only — candidates travel as bare
    // id pairs
      val inverted = withSh.select(
        explode(col("__sh")).as("__g"), col("__id"), size(col("__sh")).as("__sz"))
      // hot-gram set is tiny by construction (few grams exceed the cap):
      // aggregate it and anti-join it away (AQE broadcasts it). This count
      // pass shuffles only map-side-combined (gram, partialCount) rows, and
      // keeping it SEPARATE from the pair-generation aggregation protects
      // the collect_list buffers there from O(df) boilerplate-gram arrays.
      val hot = inverted.groupBy(col("__g"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxGramDf)
        .select("__g")
      val kept = inverted.join(broadcast(hot), Seq("__g"), "left_anti")
      // per-doc count of dropped hot grams. NOTE: unlike the hot-gram SET
      // (tiny by construction), the set of docs CONTAINING a hot gram can be
      // a large corpus fraction (every doc carrying the same licence
      // header), so these joins are NOT broadcast-hinted — AQE broadcasts
      // them when they are actually small
      val hotCounts = inverted.join(broadcast(hot), Seq("__g"), "left_semi")
        .groupBy(col("__id")).agg(count(lit(1)).cast("long").as("__hot"))
      // one shuffle of the postings; pairs stream out of generators, the
      // exact length filter (J ≤ minSize/maxSize) prunes before pair dedup,
      // and the dedup groupBy counts each pair's shared KEPT grams — which
      // is its exact shingle-intersection size except for hot-gram overlap.
      val counted = bucketPairs(kept, Seq("__g"), maxGramDf, Some(threshold))
        .join(hotCounts.select(col("__id").as("idA"), col("__hot").as("__hotA")),
          Seq("idA"), "left")
        .join(hotCounts.select(col("__id").as("idB"), col("__hot").as("__hotB")),
          Seq("idB"), "left")
        .na.fill(0L, Seq("__hotA", "__hotB"))
      // upper-bound prune (exact, no recall loss): true intersection ≤
      // cnt + min(hotA, hotB), and jaccard is monotone in the intersection —
      // a pair whose UPPER-bound jaccard misses the threshold can never
      // verify. This is what kills the shared-one-gram candidate mass
      // (measured 1.13M pairs → ~threshold-survivors at sf0.1) before any
      // shingle-set join.
      val upper = col("cnt") + least(col("__hotA"), col("__hotB"))
      val pruned = counted
        .filter(upper / (col("szA") + col("szB") - upper) >= threshold)
      // pairs with no possible hot overlap: cnt IS the exact intersection —
      // jaccard comes straight off the aggregate, no shingle rejoin at all
      val exactByCount = pruned
        .filter(least(col("__hotA"), col("__hotB")) === 0)
        .withColumn("__inter", col("cnt").cast("double"))
        .withColumn("jaccard",
          col("__inter") / (col("szA") + col("szB") - col("__inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("idA"), col("idB"), col("jaccard"))
      // both sides hold hot grams: intersection is ambiguous by up to
      // min(hotA, hotB) — exact verification on the full shingle sets
      val verified = pruned
        .filter(least(col("__hotA"), col("__hotB")) > 0)
        .select("idA", "idB")
        .join(withSh.select(col("__id").as("idA"), col("__sh").as("shA")), "idA")
        .join(withSh.select(col("__id").as("idB"), col("__sh").as("shB")), "idB")
        .withColumn("__inter", size(array_intersect(col("shA"), col("shB"))).cast("double"))
        .withColumn("jaccard",
          col("__inter") / (size(col("shA")) + size(col("shB")) - col("__inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("idA"), col("idB"), col("jaccard"))
    exactByCount.union(verified)
  }

  /** Embedding near-duplicate pairs: random-hyperplane LSH buckets (sign-bit
    * sketches over `planes` fixed pseudo-random hyperplanes) generate
    * candidates; exact cosine verifies. `zip_with` + `aggregate` keep the dot
    * products inside codegen.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 32, bands: Int = 4,
      seed: Long = 42L, maxBucketSize: Int = 1 << 20): DataFrame = {
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    val rnd = new java.util.Random(seed)
    val hyperplanes = Array.fill(planes, dim)(rnd.nextGaussian())

    def dotLit(vec: Column, plane: Array[Double]): Column =
      Similarity.dot(vec, lit(plane))

    val sketch = (0 until planes)
      .map(i => when(dotLit(col("__v"), hyperplanes(i)) > 0, 1L).otherwise(0L)
        .multiply(lit(1L << i)))
      .reduce(_ + _)

    val rowsPerBand = planes / bands
    val withVec = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__norm", Similarity.norm(col("__v")))
      // materialized, not persisted — sketch branch + both vector joins
      // reuse the frame after this method returns (see minhashLshPairs)
      .transform(materialize)
      // candidates travel as bare id pairs; vectors rejoin only for the
      // surviving distinct pairs (a hot LSH bucket costs id-pair rows, not
      // vector copies)
      val bandStructs = (0 until bands).map { c =>
        struct(lit(c).as("band"),
          shiftright(col("__sk"), c * rowsPerBand)
            .bitwiseAND(lit((1L << rowsPerBand) - 1)).as("bv"))
      }
      val banded = withVec
        .withColumn("__sk", sketch)
        .select(col("__id"), lit(0).as("__sz"), explode(array(bandStructs: _*)).as("__b"))
        .select(col("__id"), col("__sz"), col("__b.band"), col("__b.bv"))

      // one shuffle of the banded rows (cosine has no length filter: __sz is
      // a placeholder — vectors share a dimension)
      val candidates = bucketPairs(banded, Seq("band", "bv"), maxBucketSize, None)

      candidates
        .join(withVec.select(col("__id").as("idA"), col("__v").as("vA"), col("__norm").as("nA")), "idA")
        .join(withVec.select(col("__id").as("idB"), col("__v").as("vB"), col("__norm").as("nB")), "idB")
        .withColumn("cosine",
          Similarity.dot(col("vA"), col("vB")) /
            (col("nA") * col("nB")))
        .filter(col("cosine") >= threshold)
        .select(col("idA"), col("idB"), col("cosine"))
  }

  /** Embedding near-duplicate pairs BETWEEN two corpora — the semantic
    * twin of [[minhashCrossPairs]]: both sides sketch with the SAME seeded
    * hyperplanes (so true near-dups collide in some band), the reference
    * side's buckets aggregate once with capped member gathers, the new
    * side probes them in one join, and surviving distinct pairs rejoin
    * their vectors for exact cosine verification. Both sides stay
    * distributed end to end.
    *
    * @return (idNew, idRef, cosine) with exact cosine ≥ threshold
    */
  def embeddingCrossPairs(newDf: DataFrame, refDf: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 32, bands: Int = 4,
      seed: Long = 42L, maxBucketSize: Int = 1 << 20): DataFrame = {
    require(planes % bands == 0, "planes must divide into bands")
    val dim = refDf.select(size(col(vecCol))).first().getInt(0)
    val rnd = new java.util.Random(seed)
    val hyperplanes = Array.fill(planes, dim)(rnd.nextGaussian())

    def dotLit(vec: Column, plane: Array[Double]): Column =
      Similarity.dot(vec, lit(plane))
    val sketch = (0 until planes)
      .map(i => when(dotLit(col("__v"), hyperplanes(i)) > 0, 1L).otherwise(0L)
        .multiply(lit(1L << i)))
      .reduce(_ + _)
    val rowsPerBand = planes / bands
    val bandStructs = (0 until bands).map { c =>
      struct(lit(c).as("band"),
        shiftright(col("__sk"), c * rowsPerBand)
          .bitwiseAND(lit((1L << rowsPerBand) - 1)).as("bv"))
    }
    def prep(df: DataFrame) = df
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__norm", Similarity.norm(col("__v")))
      .transform(materialize)
    def banded(withVec: DataFrame) = withVec
      .withColumn("__sk", sketch)
      .select(col("__id"), explode(array(bandStructs: _*)).as("__b"))
      .select(col("__id"), col("__b.band"), col("__b.bv"))

    val newVec = prep(newDf)
    val refVec = prep(refDf)
    val refBuckets = banded(refVec)
      .groupBy(col("band"), col("bv"))
      .agg(collectListCapped(col("__id"), maxBucketSize).as("__ms"))
      .filter(size(col("__ms")) <= maxBucketSize)
    val candidates = banded(newVec)
      .join(refBuckets, Seq("band", "bv"))
      .select(col("__id").as("idNew"), explode(col("__ms")).as("idRef"))
      .groupBy("idNew", "idRef").agg(count(lit(1)).as("cnt"))

    candidates
      .join(newVec.select(col("__id").as("idNew"), col("__v").as("vN"), col("__norm").as("nN")), "idNew")
      .join(refVec.select(col("__id").as("idRef"), col("__v").as("vR"), col("__norm").as("nR")), "idRef")
      .withColumn("cosine",
        Similarity.dot(col("vN"), col("vR")) /
          (col("nN") * col("nR")))
      .filter(col("cosine") >= threshold)
      .select(col("idNew"), col("idRef"), col("cosine"))
  }

  /** Incremental-ingest dedup at the embedding level: `newDf` minus every
    * row whose vector near-duplicates (cosine ≥ threshold) ANY reference
    * vector — pair with [[minhashDedupAgainst]] for the lexical layer. */
  def embeddingDedupAgainst(newDf: DataFrame, refDf: DataFrame,
      idCol: String, vecCol: String, threshold: Double = 0.95): DataFrame = {
    val hit = embeddingCrossPairs(newDf, refDf, idCol, vecCol,
      threshold = threshold)
      .select(col("idNew").as(idCol)).distinct()
    newDf.join(hit, Seq(idCol), "left_anti")
  }

  /** Benchmark-contamination report (the GPT-3 appendix-C / Pile
    * decontamination shape): for each eval doc, the fraction of its
    * DISTINCT word n-grams that occur anywhere in the training corpus.
    * Returns (idCol, eval_grams, hit_grams, contamination) — one row per
    * eval doc, contamination ∈ [0,1].
    *
    * Scale: grams travel as 64-bit `xxhash64` keys (8 bytes vs full
    * strings; a false hit needs a hash collision — ~2⁻⁶⁴ per gram pair,
    * immaterial for a fractional report). The eval side (a benchmark
    * suite — thousands of docs) broadcasts under the same guard as
    * [[Similarity.bruteForceTopK]], so the TRAINING corpus is never
    * shuffled: one narrow scan computes grams, probes the broadcast eval
    * set, and only the (eval_id, gram) hit pairs — bounded by the eval
    * side — reach the final aggregation. An oversized eval side falls
    * back to a plain shuffle join on the gram hash.
    */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      broadcastEval: Option[Boolean] = None,
      broadcastThreshold: Long = Similarity.DefaultBroadcastQueryRows): DataFrame = {
    val evalG = eval
      .select(col(idCol).as("__eid"), explode(shingles(col(textCol), n)).as("__g"))
      .select(col("__eid"), xxhash64(col("__g")).as("__h"))
      .distinct()
      .transform(materialize) // totals + hit probe reuse it
    val trainG = train
      .select(explode(shingles(col(textCol), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__h"))
    val hits = trainG
      .join(Similarity.maybeBroadcast(evalG, broadcastEval, broadcastThreshold), Seq("__h"))
      .select("__eid", "__h").distinct()
      .groupBy("__eid").agg(count(lit(1)).as("hit_grams"))
    val totals = evalG.groupBy("__eid").agg(count(lit(1)).as("eval_grams"))
    totals.join(hits, Seq("__eid"), "left")
      .select(col("__eid").as(idCol), col("eval_grams"),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        round(coalesce(col("hit_grams"), lit(0L)).cast("double") / col("eval_grams"), 6)
          .as("contamination"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    * k-means clustering of the embedding space followed by within-cluster
    * cosine pruning. A row is removed iff a LOWER-id row in the SAME cluster
    * has cosine ≥ `threshold` with it (the same earliest-survivor rule as
    * [[minhashDedup]], so the two layers compose predictably). Returns the
    * surviving rows of `df` unchanged.
    *
    * Scale: the quadratic pairwise step is confined to one cluster at a
    * time — the paper's core trick. Centroids (k × dim) train on a bounded
    * deterministic sample and live on the driver; assignment is one
    * codegen'd argmin pass; the within-cluster self-join shuffles both
    * sides on the cluster id ONCE, and each cluster's pair enumeration is
    * local to its partition. Size `numClusters` ~ corpus/5000 at 100 TB so
    * per-cluster membership stays bounded; `maxClusterSize` fails loudly
    * (rather than silently OOMing a partition) if a degenerate embedding
    * distribution collapses clusters — re-run with more clusters.
    *
    * Compared to [[embeddingCosinePairs]] (hyperplane LSH): LSH finds only
    * near-EXACT pairs (banding recall collapses below ~0.9 cosine);
    * SemDeDup prunes *semantic* redundancy at much lower thresholds
    * (0.5–0.8) where hyperplane banding has no usable recall.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numClusters: Int = 16,
      kmeansIterations: Int = 3, kmeansSampleSize: Int = 1 << 20,
      maxClusterSize: Long = 10L << 20): DataFrame = {
    val centroids = Similarity.kmeansCentroids(
      df, idCol, vecCol, numClusters, kmeansIterations, kmeansSampleSize)
    val assigned = df
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", Similarity.norm(col("__v")))
      .withColumn("__cell", Similarity.nearestOf(centroids, col("__v"), 1)(0).getField("cid"))
      .transform(materialize)

    val oversize = assigned.groupBy("__cell").agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") > maxClusterSize).limit(1).collect()
    require(oversize.isEmpty,
      s"semanticDedup: cluster ${oversize.headOption.map(_.get(0)).orNull} exceeds " +
        s"maxClusterSize=$maxClusterSize rows — raise numClusters (quadratic " +
        "within-cluster cost would dominate) or maxClusterSize")

    val a = assigned.select(col("__cell"), col("__id").as("__idA"),
      col("__v").as("__vA"), col("__n").as("__nA"))
    val b = assigned.select(col("__cell"), col("__id").as("__idB"),
      col("__v").as("__vB"), col("__n").as("__nB"))
    val removed = a.join(b, "__cell")
      .filter(col("__idA") < col("__idB"))
      .filter(Similarity.dot(col("__vA"), col("__vB")) /
        (col("__nA") * col("__nB")) >= threshold)
      .select(col("__idB").as(idCol)).distinct()
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Positional hashed k-token windows of a token-array column: element
    * `i` (0-based) = xxhash64 of tokens `[i, i+k)` joined by one space
    * (order kept, duplicates kept, `< k` tokens → empty). The codegen'd
    * [[graft.functions.HashedShinglesPositional]] expression.
    */
  def positionalShingles(tokensCol: Column, k: Int): Column =
    org.apache.spark.sql.graft.SparkBridge.column(
      graft.functions.HashedShinglesPositional(
        org.apache.spark.sql.graft.SparkBridge.expression(tokensCol), k))

  /** Corpus-wide exact duplicated-substring spans (the span-detection half
    * of "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022 — suffix-array semantics approximated by duplicated k-token
    * windows, the standard distributed formulation).
    *
    * A window (k consecutive [[tokenize]] tokens) is *duplicated* when the
    * same token sequence occurs anywhere else in the corpus (another doc,
    * or another position of the same doc). The canonical occurrence — the
    * globally smallest `(doc, pos)` — is NOT flagged, so one copy of every
    * repeated passage survives corpus-wide. Flagged window starts are then
    * merged per document into maximal covered token spans.
    *
    * Returns `(idCol, span_start, span_end)` — 1-based inclusive token
    * positions, one row per maximal span, ordered semantics-free.
    *
    * Scale shape: one narrow map (tokenize + positional hashes per doc),
    * one `posexplode` to (doc, pos, hash) rows, ONE global shuffle on the
    * 64-bit window hash (map-side partial aggregation collapses each
    * partition's occurrences first), one hash-join back to flag
    * non-canonical occurrences, and one per-document window to merge
    * spans. No driver-side data, no O(n²) pair stage: cost is linear in
    * corpus tokens — the same shape as a word-count over the corpus.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val shuffleParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // widened: tokenize + positional window hashing is the per-row hot spot
    // and a single-split input otherwise runs it one-core (measured 0.4 s
    // serial at sf0.1; a no-op at production partition counts)
    val wins = Parallelize.widen(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), tokenize(col("__t")).as("__toks"))
      .select(col("__id"), posexplode(positionalShingles(col("__toks"), k)))
      .select(col("__id"), (col("pos") + 1).as("__pos"), col("col").as("__h"))
    // canonical occurrence + occurrence count per window hash; min(struct)
    // and count aggregate map-side before the single hash shuffle. The
    // shuffle is PINNED at the session's parallelism (the explicit-N
    // repartition folds into the aggregation's own exchange — no extra
    // shuffle): the window rows are 16 bytes each, so AQE's bytes-based
    // coalescing runs the flag join + the span window SERIAL on a corpus
    // whose real per-row work (join probe, window merge, position explode)
    // it cannot see — the [[bucketPairs]] lesson (measured: three 1-task
    // stages totaling ~1.1 s of d29's 2.0 s at sf0.1)
    val canon = wins.repartition(shuffleParts, col("__h")).groupBy("__h").agg(
      min(struct(col("__id"), col("__pos"))).as("__c0"),
      count(lit(1)).as("__cnt"))
    val flagged = wins.join(canon, "__h")
      .filter(col("__cnt") > 1 &&
        !(col("__id") === col("__c0.__id") && col("__pos") === col("__c0.__pos")))
      .select(col("__id"), col("__pos"))
    // gaps-and-islands merge of covered intervals [pos, pos+k-1] per doc:
    // a window start begins a new span iff it clears the running covered
    // end by 2+ (adjacent coverage fuses). Same pin as `canon` — the span
    // rows are tiny but every span EXPLODES to its covered positions
    // downstream, generated mass AQE cannot see.
    val w = Window.partitionBy("__id").orderBy("__pos")
    val spans = flagged
      .repartition(shuffleParts, col("__id"))
      .withColumn("__prevEnd",
        max(col("__pos") + (k - 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__isl",
        sum(when(col("__prevEnd").isNull || col("__pos") > col("__prevEnd") + 1, 1L)
          .otherwise(0L)).over(w))
      .groupBy(col("__id"), col("__isl"))
      .agg(min("__pos").cast("long").as("span_start"),
        (max("__pos") + (k - 1)).cast("long").as("span_end"))
    spans.select(col("__id").as(idCol), col("span_start"), col("span_end"))
  }

  /** Remove corpus-wide duplicated substrings from every document: tokens
    * covered by a [[duplicatedSpans]] span are dropped, the rest re-join
    * with single spaces as `text_deduped` (normalized casing/punctuation —
    * the tokenizer's view of the text, as in the reference pipelines that
    * operate post-normalization). The canonical copy of each repeated
    * passage survives; documents with no flagged span pass through with
    * their full normalized token stream. Returns `(idCol, text_deduped)`,
    * one row per input document.
    *
    * The rewrite is token-row shaped: explode to (doc, pos, token), one
    * anti-join against exploded covered positions (shuffles bounded by
    * corpus token count), then one per-doc regroup via
    * `sort_array(collect_list(struct(pos, token)))` — field extraction is
    * `GetArrayStructFields` (codegen'd), no lambda per token.
    */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k)
    val covered = spans.select(col(idCol).as("__id"),
      explode(sequence(col("span_start"), col("span_end"))).as("__pos"))
    val toks = Parallelize.widen(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), posexplode(tokenize(col("__t"))))
      .select(col("__id"), (col("pos") + 1).cast("long").as("__pos"),
        col("col").as("__tok"))
    // pinned regroup: the surviving token rows are bytes-tiny but the
    // per-doc gather sorts every doc's full token array — per-row work
    // AQE's bytes-based coalescing cannot see (see duplicatedSpans)
    val shuffleParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val rebuilt = toks.join(covered, Seq("__id", "__pos"), "left_anti")
      .repartition(shuffleParts, col("__id"))
      .groupBy("__id")
      .agg(array_join(
        sort_array(collect_list(struct(col("__pos"), col("__tok"))))
          .getField("__tok"), " ").as("text_deduped"))
    // a doc whose every token is covered (e.g. a verbatim non-canonical
    // copy) has no surviving token rows — reattach it as empty text
    df.select(col(idCol).as("__id")).distinct()
      .join(rebuilt, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Line-level corpus dedup (C4's boilerplate removal): a line whose
    * TRIMMED content occurs in at least `minDocs` distinct documents is
    * removed from every document; everything else keeps its position.
    * Blank-after-trim lines are never banned (they're structure, not
    * boilerplate, and would otherwise dominate the banned set). Output:
    * `(idCol, textCol rebuilt, n_kept, n_removed)` — one row per input doc,
    * docs that lose every line come back with empty text.
    *
    * Scale design — line TEXT never shuffles:
    *  1. explode to `(doc, pos, xxhash64(trim(line)))` — 16 bytes/line on
    *     the wire, not the line;
    *  2. document frequency per hash: distinct (doc, hash) pre-combine,
    *     then one count shuffle (Catalyst's countDistinct expansion);
    *  3. banned POSITIONS regroup per doc (only affected docs, only Int
    *     positions);
    *  4. one join of the original docs against that per-doc position list,
    *     and the rebuild is a per-row indexed array filter — local work.
    * The 64-bit hash key is the same exactness trade the MinHash/shingle
    * paths make: a cross-doc collision could ban a line early, at ~2⁻⁶⁴
    * per pair.
    */
  def lineDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // null text behaves as empty (posexplode of a null array would DROP the
    // doc from the line frame and poison the rebuild's counts)
    val lines = df
      .select(col(idCol), posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("__pos", "__raw")))
      .select(col(idCol), col("__pos"),
        // full whitespace strip (Spark's trim removes only ' ')
        regexp_replace(col("__raw"), "^\\s+|\\s+$", "").as("__key"))
    val banned = lines.filter(col("__key") =!= "")
      .select(col(idCol), xxhash64(col("__key")).as("__h"))
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val bannedPos = lines
      .select(col(idCol), col("__pos"), xxhash64(col("__key")).as("__h"))
      .join(banned, "__h")
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__bp"))
    df.join(bannedPos, Seq(idCol), "left_outer")
      .withColumn("__ls", split(coalesce(col(textCol), lit("")), "\n"))
      .withColumn("__bps", coalesce(col("__bp"), array().cast("array<int>")))
      .select(col(idCol),
        array_join(filter(col("__ls"),
          (_, i) => !array_contains(col("__bps"), i)), "\n").as(textCol),
        (size(col("__ls")) - size(col("__bps"))).cast("int").as("n_kept"),
        size(col("__bps")).cast("int").as("n_removed"))
  }
}
