package htmlspark.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall audits tying the approximate sketch operators to their exact
  * ground truths — the correctness face the DuckDB gate can't express:
  *
  *  - MinHash+LSH (q15) must surface every EXACT duplicate pair (jaccard
  *    1.0 ⇒ identical signatures ⇒ identical band keys in all bands, so a
  *    miss is a broken kernel/banding, not sampling variance) unless the
  *    pair sat in a capped bucket — q20's observability output must then
  *    account for it.
  *  - ANN-LSH (q19) candidates must overlap the brute-force cosine top-k
  *    (q18): random-hyperplane buckets put near neighbors together more
  *    often than chance. Overlap is probabilistic → audited as a floor on
  *    aggregate recall, not per-pair.
  */
class SketchRecallSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("sketch-recall-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("LSH surfaces every high-jaccard pair (exact all-pairs ground truth)") {
    import spark.implicits._
    // Exact ground truth with the SAME shingle definition the sketch uses,
    // computed in-JVM over the whole (small) corpus: at jaccard >= 0.9 the
    // per-band match probability is 0.9^4 = 0.66, so missing all 8 bands
    // has p ≈ 3e-4 per pair — and the hash kernels are deterministic, so
    // this is a fixed property of the fixture, not a flake.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val sets = docs.map { case (id, t) => (id, Sketches.shingleHashes(t, 5)) }
    val expectedPairs = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      if Sketches.jaccard(sets(i)._2, sets(j)._2) >= 0.9
    } yield {
      val (a, b) = (sets(i)._1, sets(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(expectedPairs.nonEmpty,
      "fixture has no jaccard>=0.9 pairs — audit vacuous")

    val got = TextOps.minhashLshPairs(spark, dir)
      .as[(Long, Long)].collect().toSet
    val missed = expectedPairs -- got
    assert(missed.isEmpty,
      s"LSH missed ${missed.size}/${expectedPairs.size} high-jaccard pairs: " +
        missed.take(5).mkString(", "))
  }

  test("SimHash hamming distance separates near-dups from background") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val sh = docs.map { case (id, t) => id -> Sketches.simhash64(t) }.toMap
    val sets = docs.map { case (id, t) => (id, Sketches.shingleHashes(t, 5)) }
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    var nearSum = 0; var nearN = 0; var farSum = 0; var farN = 0
    for (i <- sets.indices; j <- (i + 1) until sets.length) {
      val jac = Sketches.jaccard(sets(i)._2, sets(j)._2)
      val h = ham(sh(sets(i)._1), sh(sets(j)._1))
      if (jac >= 0.9) { nearSum += h; nearN += 1 }
      else if (jac <= 0.2) { farSum += h; farN += 1 }
    }
    assert(nearN > 0 && farN > 0, "fixture lacks near or far pairs")
    val nearMean = nearSum.toDouble / nearN
    val farMean = farSum.toDouble / farN
    assert(nearMean < farMean / 2,
      f"simhash separation too weak: near=$nearMean%.1f far=$farMean%.1f")
  }

  test("ANN-LSH recall floor vs brute-force cosine top-k") {
    import spark.implicits._
    val brute = AnnOps.cosineTopK(spark, dir, nQueries = 8, k = 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    // 4 planes → 16 buckets over 500 vectors (~31/bucket/table), 8 tables:
    // the occupancy/recall point a tuned deployment targets at this corpus
    // size. More planes on a corpus this small would isolate every vector.
    val ann = AnnOps.annLsh(spark, dir, nQueries = 8, k = 5,
        nPlanes = 4, nTables = 8)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute & ann).size.toDouble / brute.size
    // multi-table LSH: 1-(1-p^4)^8 per neighbor — well above chance, below
    // 1.0 by construction. The floor pins "bucketing works at all" without
    // flaking on hash specifics (deterministic fixture + hashes).
    assert(recall >= 0.5, f"ANN recall $recall%.2f below floor 0.50")

    // multi-probe with HALF the tables must reach at least the same recall:
    // probing Hamming-1 buckets substitutes for index footprint.
    val annMp = AnnOps.annLsh(spark, dir, nQueries = 8, k = 5,
        nPlanes = 4, nTables = 4, multiProbe = true)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recallMp = (brute & annMp).size.toDouble / brute.size
    assert(recallMp >= recall,
      f"multi-probe recall $recallMp%.2f below single-probe $recall%.2f")
  }

  test("embed near-dup cap drops degenerate buckets but keeps planted " +
       "near-dup recall (q25/q27)") {
    import spark.implicits._
    // Synthetic corpus with a known structure: 200 background vectors,
    // 10 planted near-dup pairs (v, v + tiny noise → cosine ≈ 0.9999),
    // and a DEGENERATE CLUSTER of 100 near-identical vectors — the
    // boilerplate-embedding shape that would explode the self-join
    // (100·99/2 pairs per table) without the MaxEmbedBucket cap.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(d =>
        ((Math.floorMod(mix(seed * 131 + d), 2000001L) - 1000000L) / 1000000.0f))
    def noisy(v: Array[Float], seed: Long, eps: Float): Array[Float] =
      v.zip(rand(seed)).map { case (x, r) => x + r * eps }
    val background = (0L until 200L).map(i => (i, rand(i), 0))
    val planted = (0 until 10).flatMap { k =>
      val v = rand(10000L + k)
      Seq((1000L + 2 * k, v, 1), (1001L + 2 * k, noisy(v, 20000L + k, 1e-4f), 1))
    }
    val clusterDir = rand(555L)
    val cluster = (0 until 100).map(c =>
      (2000L + c, noisy(clusterDir, 30000L + c, 1e-5f), 2))
    val tmp = java.nio.file.Files.createTempDirectory("graft_embcap_").toString
    (background ++ planted ++ cluster)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    // The stats face must account for the dropped cluster ("no silent
    // caps"): the 100-member cluster lands in ONE bucket per table, far
    // over the cap of 64.
    val stats = AnnOps.embedBucketStats(spark, tmp).collect()(0)
    assert(stats.getAs[Long]("n_dropped_buckets") > 0,
      "degenerate cluster produced no dropped buckets — cap not exercised")
    assert(stats.getAs[Long]("n_vecs_in_dropped") >= 90,
      s"expected ~100 cluster vectors in dropped buckets, got " +
        s"${stats.getAs[Long]("n_vecs_in_dropped")}")
    assert(stats.getAs[Long]("max_bucket_n") >= 90)

    // The cap must NOT cost planted-near-dup recall: every planted pair
    // sits in small (in-cap) buckets and must survive into the top-n.
    val got = AnnOps.embedNearDup(spark, tmp, n = 25)
      .as[(Long, Long)].collect().toSet
    val expectedPlanted = (0 until 10)
      .map(k => (1000L + 2 * k, 1001L + 2 * k)).toSet
    val missed = expectedPlanted -- got
    assert(missed.isEmpty,
      s"cap lost planted near-dup pairs: ${missed.mkString(", ")}")
    TextOps.clearPlanCache(spark)
  }

  test("IVF-ANN recall floor vs brute-force cosine top-k, and probing " +
       "more cells can only help") {
    import spark.implicits._
    val brute = AnnOps.cosineTopK(spark, dir, nQueries = 8, k = 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int, trained: Boolean = true): Double = {
      val ivf = AnnOps.annIvf(spark, dir, nQueries = 8, k = 5,
          nCells = 8, nProbe = nProbe, trained = trained)
        .select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect().toSet
      (brute & ivf).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r4 = recallAt(4)
    val r8 = recallAt(8) // probing every cell == exact search
    assert(r2 >= 0.25, f"IVF recall@2probes $r2%.2f below floor")
    assert(r4 >= r2, f"recall must be monotone in nProbe: $r4%.2f < $r2%.2f")
    assert(r8 == 1.0, f"probing all cells must recover brute force, got $r8%.2f")

    // On this UNSTRUCTURED (uniform-random) corpus partition recall at a
    // partial probe budget is init-luck, not quantizer quality (any
    // Voronoi split of uniform data strands some true neighbors): the
    // round-4 "trained ≥ first-N here" pin held only for the lowest-id
    // sample order and broke when the seeded sample changed the k-means
    // init. The floors above (monotone in probes, exact at all probes)
    // are the order-independent invariants; trained-must-win now lives
    // solely on the CLUSTERED fixture below, where cell balance is real.
  }

  test("trained IVF centroids strictly beat first-N on a clustered corpus") {
    import spark.implicits._
    // 8 genuine clusters × 60 members, but the 8 LOWEST ids (= the
    // first-N centroid seam AND the query set) sit in only 2 clusters —
    // the realistic failure of untrained centroids: they over-partition
    // the crowded region and lump the rest, so a small probe budget
    // misses true neighbors. Sampled k-means re-balances the cells.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(d =>
        ((Math.floorMod(mix(seed * 131 + d), 2000001L) - 1000000L) / 1000000.0f))
    val centers = Array.tabulate(8)(c => rand(900L + c))
    val vecs = (0 until 480).map { i =>
      val cl = if (i < 8) i % 2 else i % 8
      val noise = rand(5000L + i)
      (i.toLong, Array.tabulate(dim)(d => centers(cl)(d) + 0.35f * noise(d)), cl)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfkm_").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val brute = AnnOps.cosineTopK(spark, tmp, nQueries = 8, k = 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int, trained: Boolean,
                 seeded: Boolean = true): Double = {
      val ivf = AnnOps.annIvf(spark, tmp, nQueries = 8, k = 5,
          nCells = 8, nProbe = nProbe, trained = trained,
          seededSample = seeded)
        .select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect().toSet
      (brute & ivf).size.toDouble / brute.size
    }
    info(f"seeded@1=${recallAt(1, trained = true)}%.3f " +
      f"lowid@1=${recallAt(1, trained = true, seeded = false)}%.3f " +
      f"firstN@1=${recallAt(1, trained = false)}%.3f " +
      f"seeded@2=${recallAt(2, trained = true)}%.3f " +
      f"lowid@2=${recallAt(2, trained = true, seeded = false)}%.3f " +
      f"firstN@2=${recallAt(2, trained = false)}%.3f " +
      f"seeded@4=${recallAt(4, trained = true)}%.3f")
    assert(recallAt(1, trained = true) > recallAt(1, trained = false),
      "trained centroids must strictly improve recall@1 on clustered data")
    assert(recallAt(2, trained = true) > recallAt(2, trained = false),
      "trained centroids must strictly improve recall@2 on clustered data")
    // the seeded sample must never trail the lowest-id sample here
    // (VERDICT r4 #5), and distance-ordered probing must reach EXACT
    // recall at one probe in eight on matched structure — the
    // multi-probe value statement (VERDICT r4 #6): probes are ranked by
    // centroid cosine, so the first probe is the cell that holds the
    // query's cluster
    assert(recallAt(1, trained = true) >=
      recallAt(1, trained = true, seeded = false),
      "seeded sample trails the lowest-id sample at 1 probe")
    assert(recallAt(1, trained = true) == 1.0,
      "distance-ordered probing must be exact at 1/8 probes on clustered data")
    TextOps.clearPlanCache(spark)
  }

  test("seeded sample keeps cells balanced when id order correlates with " +
       "content (lowest-id sample starves 6 of 8 clusters)") {
    // 3000 vectors, sample cap 2048: the 2048 LOWEST ids live in just 2 of
    // 8 clusters, the tail in the other 6 — a time-ordered crawl where new
    // content arrives after the cap. The lowest-id sample never sees six
    // clusters, so its quantizer over-partitions the old region and lumps
    // the new content into giant cells (at scale: a probe of such a cell
    // scores orders of magnitude more candidates AND recall collapses for
    // new-content queries). The seeded pseudo-random sample covers all
    // eight clusters regardless of arrival order. Pure-JVM kernel test —
    // deterministic, no Spark session needed.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(d =>
        ((Math.floorMod(mix(seed * 131 + d), 2000001L) - 1000000L) / 1000000.0f))
    val centers = Array.tabulate(8)(c => rand(4200L + c))
    val cap = AnnOps.IvfSampleCap
    val vecs: Seq[(Long, Array[Float])] = (0 until 3000).map { i =>
      val cl = if (i < cap) i % 2 else 2 + (i % 6)
      val noise = rand(9000L + i)
      (i.toLong, Array.tabulate(dim)(d => centers(cl)(d) + 0.3f * noise(d)))
    }
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // cluster COVERAGE of the trained centroids: how many of the 8 true
    // clusters have at least one centroid nearest to them. Starvation
    // shows directly: the lowest-id sample's quantizer puts every
    // centroid in the two old-content clusters, so all six new clusters
    // share distorted cells (at scale: new-content probes score against
    // mixed giant cells — cost and recall both degrade as noise grows).
    def coverage(sample: Seq[Array[Float]]): Int = {
      val cents = Sketches.kmeansCentroids(sample.take(cap).toArray, 8,
        AnnOps.IvfKmeansIters)
      cents.map(c => centers.zipWithIndex.maxBy(t => cosF(c, t._1))._2)
        .distinct.length
    }
    val lowId = coverage(vecs.sortBy(_._1).map(_._2))
    val seeded = coverage(
      vecs.sortBy { case (id, _) => (Sketches.sampleKey(id), id) }.map(_._2))
    info(s"cluster coverage: lowest-id sample $lowId/8, seeded sample $seeded/8")
    assert(lowId == 2, s"fixture intent: lowest-id sample sees only the 2 " +
      s"old clusters, got $lowId")
    assert(seeded >= 7 && seeded > lowId,
      s"seeded sample must cover the starved clusters: seeded=$seeded lowid=$lowId")
  }
}
