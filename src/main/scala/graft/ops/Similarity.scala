package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]/Array[Double]),
  * expressed in higher-order functions (`zip_with` + `aggregate`), no
  * UDFs. Brute-force is the exactness baseline; the LSH/IVF/PQ variants
  * are the scale paths (probes scan buckets or codes, not the corpus).
  *
  * Measured caveat: higher-order functions are CodegenFallback
  * (interpreted per element), which is fine when the vector math rides a
  * candidate-bounded join but wrong for a dense n*k kernel — pqEncode
  * documents the measured 52x gap and uses a JIT'd mapPartitions pass
  * instead.
  */
object Similarity {

  /** Sum of elementwise products (the shared kernel of cosine): higher-
    * order functions are CodegenFallback, so every evaluation is
    * interpreted per element — candidate-bounded joins precompute each
    * side's squared norm ONCE per row instead of once per PAIR (3x fewer
    * HOF evaluations in the join; identical doubles, since the per-row
    * expression tree is exactly the one `cosine` evaluated per pair). */
  def dotSelf(a: Column): Column =
    aggregate(zip_with(a, a, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def dotCols(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two array columns, computed in double. */
  def cosine(a: Column, b: Column): Column =
    dotCols(a, b) / sqrt(dotSelf(a) * dotSelf(b))

  /** Cosine from a precomputed product of squared norms (see dotSelf). */
  private def cosinePre(a: Column, b: Column, normSqProduct: Column): Column =
    dotCols(a, b) / sqrt(normSqProduct)

  /** Brute-force cosine top-k: probes cross-join the corpus. Exact; O(P*N).
    * Ranking quantizes similarity to `decimals` so order is stable across
    * engines/summation orders. */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, k: Int, decimals: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .withColumn("ne", dotSelf(col("e")))
    val p = probes.select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
      .withColumn("nq", dotSelf(col("qe")))
    val joined = p.crossJoin(c)
      .withColumn("sim",
        round(cosinePre(col("qe"), col("e"), col("nq") * col("ne")), decimals))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol))
    // no orderBy tail: output is Q*k rows but pipeline callers must not
    // pay a global sort — presentation layers (Queries.q_*) add their own
    joined.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col(idCol).as("neighbor"), col("sim"), col("rn"))
  }

  /** Sign-bit LSH bucket of the first `nBits` dimensions — the TEACHING
    * baseline only: 2^nBits skewed buckets, no projections. Use the
    * random-hyperplane family below for real ANN. */
  def signBucket(embCol: Column, nBits: Int = 4): Column =
    (0 until nBits).map(i => when(element_at(embCol, i + 1) > 0, 1 << i).otherwise(0))
      .reduce(_ + _)

  // ------------------------------------------------- random-hyperplane LSH

  /** ±1 hyperplane component (Rademacher sign-LSH), derived from md5 of
    * "table_bit_dim" so ANY engine reproduces the exact same hyperplanes
    * (the DuckDB oracle recomputes them from the same formula) and the
    * bucketing is deterministic across runs/cluster sizes — no RNG state
    * to ship. */
  def rhpComponent(table: Int, bit: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"${table}_${bit}_$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((d(0) & 0xff) % 2 == 0) 1.0 else -1.0
  }

  /** Bucket id of an embedding under hyperplane table `table`: nBits sign
    * bits of seeded random projections, evaluated as codegen'd higher-order
    * functions (hyperplanes are plan-time literals — zero per-row hashing). */
  def rhpBucket(embCol: Column, dim: Int, nBits: Int, table: Int): Column =
    (0 until nBits).map { j =>
      val plane = (0 until dim).map(i => rhpComponent(table, j, i))
      val dot = aggregate(zip_with(embCol, typedLit(plane), (x, p) => x * p),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (id, tbl, bucket) rows: one bucket per hyperplane table (multi-table
    * probing: a neighbour missed by one table is caught by another). */
  private def rhpBuckets(df: DataFrame, idCol: String, embCol: String,
      idAlias: String, dim: Int, nBits: Int, nTables: Int): DataFrame = {
    val e = col(embCol).cast("array<double>")
    df.select(col(idCol).as(idAlias), e.as("e"),
      posexplode(array((0 until nTables).map(t => rhpBucket(e, dim, nBits, t)): _*))
        .as(Seq("tbl", "bucket")))
  }

  /** Candidate (qid, cid) pairs: probes meet corpus vectors that share a
    * bucket in ANY of the nTables hyperplane tables. The scale path: the
    * corpus is scanned once, shuffled by (tbl, bucket); each probe compares
    * against ~nTables * N / 2^nBits candidates instead of N.
    *
    * Honesty note on recall: sign-LSH collision probability per bit is
    * 1 - θ/π for neighbour angle θ, so the recall/reduction trade-off is a
    * function of how CLOSE the neighbours are. For near-duplicate retrieval
    * (cos ≥ 0.95, the training-pipeline use-case) the defaults measure
    * ~0.95 recall at ~45x candidate reduction (OpsSpec); for uniformly
    * random vectors whose "nearest" neighbour sits at cos ≈ 0.4, NO
    * sublinear method reaches high recall — use cosineTopK there. */
  def rhpCandidates(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, dim: Int, nBits: Int = 8, nTables: Int = 4): DataFrame = {
    val c = rhpBuckets(corpus, idCol, embCol, "cid", dim, nBits, nTables)
      .select(col("tbl"), col("bucket"), col("cid"))
    val p = rhpBuckets(probes, idCol, embCol, "qid", dim, nBits, nTables)
      .select(col("tbl"), col("bucket"), col("qid"))
    p.join(c, Seq("tbl", "bucket")).select(col("qid"), col("cid")).distinct()
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-decision input for
    * embedding space (feed the result to Dedup.dedupClusters). Candidate
    * pairs come from shared RHP buckets in ANY of the nTables hyperplane
    * tables; the exact cosine is computed on candidates only and confirmed
    * against `threshold`. The corpus is never self-cross-joined: the join
    * is bounded to within-bucket pairs (the 100 TB shape — same inverted-
    * index discipline as Dedup.ngramJaccardPairs). Emits (a, b, sim) with
    * a < b, both ids ordered, sim rounded to `decimals`.
    *
    * Skew guard: a degenerate bucket (e.g. a million byte-identical
    * embeddings) yields quadratic pairs, so buckets hotter than `maxBucket`
    * are excluded from the pair join — NOT silently lossy in the common
    * case, because a pair survives if it shares ANY under-cap bucket across
    * the nTables tables. Truly all-identical clusters should be collapsed
    * by exact dedup (Dedup.exactStats) before embedding-space mining; any
    * cap applied here must be applied to a parity oracle identically. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, threshold: Double, nBits: Int = 8, nTables: Int = 4,
      decimals: Int = 3, maxBucket: Long = 10000L): DataFrame = {
    // persisted: the (vid, tbl, bucket) stream is consumed twice below (the
    // hot-bucket count and the list build), and recomputing it would redo
    // the nBits*nTables projection dot products per vector
    val b0 = rhpBuckets(corpus, idCol, embCol, "vid", dim, nBits, nTables)
      .select(col("tbl"), col("bucket"), col("vid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // posting-list expansion: bucket members aggregate to one list and pairs
    // explode narrowly within each list — no bucket self-join (same shape
    // as Dedup.minhashLshCandidates; measured ~1.7x there). The maxBucket
    // skew cap runs as a sum-shaped count aggregate BEFORE any member list
    // materializes (one row per (vid, tbl) by construction, so the count IS
    // the bucket size) — the same cap-ordering flip as ngramJaccardPairs:
    // a degenerate bucket never builds its O(b) aggregation buffer, and the
    // output is identical because the same buckets drop, just earlier.
    val hot = b0.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket).select(col("tbl"), col("bucket"))
    val lists = b0.join(hot, Seq("tbl", "bucket"), "left_anti")
      .groupBy(col("tbl"), col("bucket"))
      .agg(collect_list(col("vid")).as("ids"))
      // singleton buckets yield no pairs; >=2 prunes them before the explode
      .where(size(col("ids")) >= 2)
      .select(col("ids"))
    val cand = lists
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val vecs = corpus.select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .withColumn("n", dotSelf(col("e")))
    // no orderBy tail: pipeline callers must not pay a global sort on pair
    // output (the oracle wrappers in Queries add their own)
    cand
      .join(vecs.toDF("a", "ea", "na"), Seq("a"))
      .join(vecs.toDF("b", "eb", "nb"), Seq("b"))
      .withColumn("sim", round(
        cosinePre(col("ea"), col("eb"), col("na") * col("nb")), decimals))
      .where(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  // --------------------------------------------------------------- IVF ANN

  /** L2-normalize an embedding column (cosine becomes dot product). */
  def l2normalize(embCol: Column): Column = {
    val norm = sqrt(aggregate(zip_with(embCol, embCol, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v))
    transform(embCol, x => x / norm)
  }

  /** Deterministic Lloyd's k-means coarse quantizer over normalized
    * vectors: init = the k corpus vectors with the smallest md5-derived id
    * hash (deterministic, no RNG state), then `iters` rounds of
    * assign-to-nearest + elementwise-mean. Each round is one broadcast
    * cross join + two aggregations — all Catalyst; the driver loop only
    * holds the (tiny) centroid table. Returns (cid, centroid). */
  def kmeansCentroids(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val spark = corpus.sparkSession
    val cSchema = StructType(Seq(StructField("cid", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    def centroidDf(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.toList.asJava, cSchema)

    val e = corpus.select(col(idCol).as("vid"),
      l2normalize(col(embCol).cast("array<double>")).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init: the k corpus vectors with the smallest id hash — a distributed
    // top-k, never a global single-partition window
    val seeds = e.orderBy(graft.ops.Dedup.hash40(col("vid").cast("string")), col("vid"))
      .limit(k).select(col("e")).collect()
    var centroids = centroidDf(seeds.zipWithIndex.toSeq.map { case (r, i) =>
      Row(i + 1, r.getSeq[Double](0))
    })
    for (_ <- 1 to iters) {
      val next = assignToCentroids(e, centroids)
        .select(col("cid"), posexplode(col("e")).as(Seq("i", "v")))
        .groupBy(col("cid"), col("i")).agg(avg(col("v")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .collect()
      // centroid table is tiny; pin it driver-side per iteration
      centroids = centroidDf(next.toSeq.map(r => Row(r.getInt(0), r.getSeq[Double](1))))
    }
    e.unpersist()
    centroids
  }

  /** Nearest-centroid assignment — the JIT'd mapPartitions kernel (the
    * pqEncode discipline: a dense n*k numeric kernel is the measured-wrong
    * place for Catalyst, because higher-order functions are CodegenFallback
    * and a broadcast cross join materializes n*k candidate rows through an
    * interpreted cosine each; r06 bench rows at 200k vectors x 64
    * centroids: ivfpq_build 37.6 s Catalyst-assign -> 1.2-2.3 s with this
    * kernel, ivf_train 3.9 -> 1.7 s, identical assignments). Centroid
    * tables are tiny by contract (driver-held, like the k-means loop
    * already holds them), so they ride the closure.
    *
    * Bit-identical to the Catalyst shape it replaces — rank by
    * round(cosine, decimals) desc with cid tie-break, where cosine =
    * dot / sqrt(nv * ncen), every sum left-to-right from 0.0 (exactly
    * aggregate(zip_with(...)) evaluation order) and rounding is Catalyst's
    * BigDecimal HALF_UP, applied only to candidates within 2*10^-decimals
    * of the raw maximum (every other candidate provably rounds strictly
    * lower). NaN similarities (zero-norm inputs) follow Spark's ordering:
    * NaN ranks greatest, ties by cid. */
  private def assignToCentroids(e: DataFrame, centroids: DataFrame,
      decimals: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val cents: Array[(Int, Array[Double], Double)] = centroids
      .select(col("cid").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map { r =>
        val a = r.getSeq[Double](1).toArray
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * a(i); i += 1 }
        (r.getInt(0), a, s)
      }
      .sortBy(_._1)
    val eps = 2.0 * math.pow(10, -decimals)
    val outSchema = e.schema.add("cid", IntegerType, nullable = false)
    val eIdx = e.schema.fieldIndex("e")
    e.mapPartitions { it =>
      it.map { r =>
        val ea = r.getSeq[Double](eIdx).toArray
        var nv = 0.0
        var i = 0
        while (i < ea.length) { nv += ea(i) * ea(i); i += 1 }
        val sims = new Array[Double](cents.length)
        var best = Double.NegativeInfinity
        var anyNaN = false
        var nanMinCid = Int.MaxValue
        var k = 0
        while (k < cents.length) {
          val (cid, ca, ncen) = cents(k)
          var dot = 0.0
          i = 0
          while (i < ca.length) { dot += ea(i) * ca(i); i += 1 }
          val csim = dot / math.sqrt(nv * ncen)
          sims(k) = csim
          if (csim.isNaN) { anyNaN = true; if (cid < nanMinCid) nanMinCid = cid }
          else if (csim > best) best = csim
          k += 1
        }
        val bestCid =
          if (anyNaN) nanMinCid // NaN is greatest in Spark's ordering
          else {
            var bc = Int.MaxValue
            var br = Double.NegativeInfinity
            k = 0
            while (k < cents.length) {
              if (sims(k) >= best - eps) {
                val rs = java.math.BigDecimal.valueOf(sims(k))
                  .setScale(decimals, java.math.RoundingMode.HALF_UP).doubleValue()
                if (rs > br || (rs == br && cents(k)._1 < bc)) { br = rs; bc = cents(k)._1 }
              }
              k += 1
            }
            bc
          }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bestCid)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(col("vid"), col("e"), col("cid"))
  }

  /** IVF approximate nearest neighbour: corpus vectors live in inverted
    * lists keyed by their nearest centroid; a probe scans only the lists of
    * its `nProbe` nearest centroids — candidates ~ nProbe/k of the corpus,
    * shuffled once by cid. `centroids` is pluggable: kmeansCentroids
    * output, or any fixed quantizer (the driver oracle uses corpus seed
    * vectors so DuckDB reproduces the identical partitioning). */
  def ivfNearest(corpus: DataFrame, probes: DataFrame, centroids: DataFrame,
      idCol: String, embCol: String, nProbe: Int = 2, k: Int = 5,
      decimals: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"),
      col(embCol).cast("array<double>").as("e"))
    val lists = assignToCentroids(c, centroids)
      .select(col("cid"), col("vid").as("cand"), col("e"), dotSelf(col("e")).as("ne"))
    val p = probes.select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
      .withColumn("nq", dotSelf(col("qe")))
    val wP = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probeLists = p.crossJoin(broadcast(centroids.withColumn("ncen", dotSelf(col("centroid")))))
      .withColumn("csim", round(
        cosinePre(col("qe"), col("centroid"), col("nq") * col("ncen")), 6))
      .withColumn("crn", row_number().over(wP))
      .where(col("crn") <= nProbe)
      .select(col("qid"), col("qe"), col("nq"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cand"))
    probeLists.join(lists, Seq("cid"))
      .withColumn("sim", round(
        cosinePre(col("qe"), col("e"), col("nq") * col("ne")), decimals))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("cand").as("neighbor"), col("sim"), col("rn"))
    // no orderBy tail (see cosineTopK note)
  }

  /** Random-hyperplane ANN top-k: bucket-join candidates, exact cosine on
    * the candidate set only. */
  def rhpNearest(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, dim: Int, nBits: Int = 8, nTables: Int = 4, k: Int = 10,
      decimals: Int = 3): DataFrame = {
    val cand = rhpCandidates(corpus, probes, idCol, embCol, dim, nBits, nTables)
    val cVec = corpus.select(col(idCol).as("cid"), col(embCol).cast("array<double>").as("e"))
      .withColumn("ne", dotSelf(col("e")))
    val pVec = probes.select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
      .withColumn("nq", dotSelf(col("qe")))
    val joined = cand.join(cVec, Seq("cid")).join(pVec, Seq("qid"))
      .withColumn("sim", round(
        cosinePre(col("qe"), col("e"), col("nq") * col("ne")), decimals))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    joined.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("cid").as("neighbor"), col("sim"), col("rn"))
    // no orderBy tail (see cosineTopK note)
  }

  /** LSH-bucketed approximate nearest neighbour: probes join only their own
    * sign bucket — corpus scanned once, shuffled by bucket, each probe
    * compares against ~N/2^nBits candidates. */
  def lshNearest(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, nBits: Int = 4, k: Int = 1, decimals: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .withColumn("bucket", signBucket(col("e"), nBits))
      .withColumn("ne", dotSelf(col("e")))
    val p = probes.select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
      .withColumn("bucket", signBucket(col("qe"), nBits))
      .withColumn("nq", dotSelf(col("qe")))
    val joined = p.join(c, Seq("bucket"))
      .withColumn("sim", round(
        cosinePre(col("qe"), col("e"), col("nq") * col("ne")), decimals))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol))
    joined.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("bucket"), col(idCol).as("neighbor"), col("sim"), col("rn"))
    // no orderBy tail (see cosineTopK note)
  }

  // ------------------------------------------------ product quantization

  /** Squared L2 over equal-length arrays (fixed left-to-right summation —
    * engine-portable like `cosine`). */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** The m subvector slices of an embedding, for posexplode into (sub, sv).
    * m must divide dim — enforced here (and in pqEncode, which slices in
    * its own kernel) so a caller passing a non-divisor fails loudly
    * instead of silently dropping the tail dimensions from every
    * distance. */
  def subvectors(e: Column, dim: Int, m: Int): Column = {
    val dsub = dim / m
    require(m * dsub == dim, s"m=$m must divide dim=$dim")
    array((0 until m).map(s => slice(e, s * dsub + 1, dsub)): _*)
  }

  /** Per-subspace Lloyd's for product-quantization codebooks: the
    * embedding splits into m contiguous dsub-dim subspaces, each trained
    * independently — but all in ONE Catalyst plan per iteration (the
    * subspace id is just a grouping column, not a driver loop). Init: the
    * ksub smallest-id-hash corpus vectors seed every subspace with their
    * slices (deterministic, no RNG — same discipline as kmeansCentroids).
    * Returns (sub, cid, centroid[dsub]); tiny (m*ksub rows), made to be
    * broadcast. Codebooks are pluggable downstream exactly like
    * ivfNearest's centroids, so oracles can replay seed-only (iters=0)
    * codebooks. */
  def pqCodebooks(corpus: DataFrame, idCol: String, embCol: String, dim: Int,
      m: Int, ksub: Int, iters: Int = 2): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val dsub = dim / m
    require(m * dsub == dim, s"m=$m must divide dim=$dim")
    val spark = corpus.sparkSession
    val cbSchema = StructType(Seq(StructField("sub", IntegerType),
      StructField("cid", IntegerType), StructField("centroid", ArrayType(DoubleType))))
    def cbDf(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.toList.asJava, cbSchema)

    val e = corpus.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("e"))
    val subs = e.select(col("vid"),
        posexplode(subvectors(col("e"), dim, m)).as(Seq("sub", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = e.orderBy(graft.ops.Dedup.hash40(col("vid").cast("string")), col("vid"))
      .limit(ksub).select(col("e")).collect()
    var cbRows: Seq[(Int, Int, Array[Double])] =
      for ((r, i) <- seeds.zipWithIndex.toSeq; s <- 0 until m)
        yield (s, i + 1, r.getSeq[Double](0).slice(s * dsub, (s + 1) * dsub).toArray)
    for (_ <- 1 to iters) {
      // Assignment via the JIT'd subspace-argmin kernel (pqAssignSv — the
      // pqEncode kernel over already-sliced subvectors): the Catalyst shape
      // this replaces joined every (vector, subspace) row against ksub
      // broadcast centroids — n*m*ksub candidate rows (51.2M per iteration
      // at the bench's 25k-vector sample) each paying an INTERPRETED
      // higher-order-function l2sq; the kernel is the same argmin with the
      // same bounded HALF_UP rounding, bit-identical per pqEncode's
      // contract, with zero candidate-row materialization. The mean update
      // stays Catalyst (narrow posexplode + avg).
      val bySub = codebookArraysLocal(cbRows, m)
      val next = pqAssignSv(subs, bySub)
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("i", "v")))
        .groupBy(col("sub"), col("cid"), col("i")).agg(avg(col("v")).as("mv"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mv")))),
          s => s.getField("mv")).as("centroid"))
        .collect()
      cbRows = next.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    }
    subs.unpersist()
    cbDf(cbRows.map { case (s, cid, c) => Row(s, cid, c.toSeq) })
  }

  /** Codebooks as per-subspace (cids, centroids) arrays for closure-side
    * kernels; requires full coverage of subspaces 0..m-1. */
  private def codebookArraysLocal(rows: Seq[(Int, Int, Array[Double])],
      m: Int): Array[(Array[Int], Array[Array[Double]])] = {
    val grouped = rows.groupBy(_._1)
    require(grouped.keySet == (0 until m).toSet,
      s"codebooks must cover subspaces 0..${m - 1}, got ${grouped.keySet}")
    (0 until m).map { s =>
      val rs = grouped(s).sortBy(_._2)
      (rs.map(_._2).toArray, rs.map(_._3).toArray)
    }.toArray
  }

  /** Argmin centroid id for one subvector under pqEncode's bit-identity
    * contract: raw L2 left-to-right, HALF_UP rounding applied only to
    * candidates within 2e-6 of the raw minimum, cid tie-break. */
  private def argminCid(sv: Array[Double], cids: Array[Int],
      cents: Array[Array[Double]]): Int = {
    val ds = new Array[Double](cents.length)
    var dmin = Double.MaxValue
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      var d = 0.0
      var i = 0
      while (i < c.length) { val t = sv(i) - c(i); d += t * t; i += 1 }
      ds(k) = d
      if (d < dmin) dmin = d
      k += 1
    }
    var bestCid = Int.MaxValue
    var bestR = Double.MaxValue
    k = 0
    while (k < cents.length) {
      if (ds(k) <= dmin + 2e-6) {
        val rd = java.math.BigDecimal.valueOf(ds(k))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (rd < bestR || (rd == bestR && cids(k) < bestCid)) {
          bestR = rd; bestCid = cids(k)
        }
      }
      k += 1
    }
    bestCid
  }

  /** JIT'd per-subspace assignment over an exploded (vid, sub, sv) frame:
    * emits (sub, cid, sv) — the PQ training inner loop's input to the mean
    * update. */
  private def pqAssignSv(subs: DataFrame,
      bySub: Array[(Array[Int], Array[Array[Double]])]): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val schema = subs.schema
    val subIdx = schema.fieldIndex("sub")
    val svIdx = schema.fieldIndex("sv")
    val outSchema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cid", IntegerType, nullable = false),
      schema(svIdx)))
    subs.mapPartitions { it =>
      it.map { r =>
        val s = r.getInt(subIdx)
        val sv = r.getSeq[Double](svIdx).toArray
        val (cids, cents) = bySub(s)
        org.apache.spark.sql.Row(s, argminCid(sv, cids, cents), r.get(svIdx))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** PQ encoding: each vector compresses to m small codes — the nearest
    * sub-codebook centroid per subspace (argmin over rounded L2, cid
    * tie-break: engine-stable like assignToCentroids). dim*8 bytes/vector
    * become m codes; at 10^10 vectors this is the difference between an
    * index that fits the cluster and one that does not.
    *
    * This is the one numeric kernel where every Catalyst shape measured
    * wrong: the exploded join (n*m*ksub candidate rows — 409.6M at the
    * bench's 200k vectors — through a map-side argmin aggregation) ran
    * 31.5 s, and a plan-literal `transform`/`aggregate` projection is
    * WORSE because higher-order functions are CodegenFallback —
    * interpreted per element. Codebooks are tiny by contract, so they
    * ride the closure and the encode is a JIT-compiled mapPartitions
    * projection: n rows in, n (vid, codes) rows out, no join, no
    * explosion, no shuffle (see timing in BASELINE.md). Distance
    * rounding mirrors Catalyst `round` (BigDecimal HALF_UP, 6 decimals)
    * and is applied only to candidates within 2e-6 of the unrounded
    * minimum — every other candidate's rounded distance is provably
    * larger, so the argmin is bit-identical to the Catalyst/DuckDB
    * round-then-argmin. Returns (vid, codes[m]). */
  def pqEncode(corpus: DataFrame, idCol: String, embCol: String,
      codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
    val dsub = dim / m
    require(m * dsub == dim, s"m=$m must divide dim=$dim")
    val bySub: Array[(Array[Int], Array[Array[Double]])] = {
      val grouped = codebooks.collect()
        .map(r => (r.getInt(r.fieldIndex("sub")), r.getInt(r.fieldIndex("cid")),
          r.getSeq[Double](r.fieldIndex("centroid")).toArray))
        .groupBy(_._1)
      require(grouped.keySet == (0 until m).toSet,
        s"codebooks must cover subspaces 0..${m - 1}, got ${grouped.keySet}")
      (0 until m).map { s =>
        val rows = grouped(s).sortBy(_._2)
        (rows.map(_._2), rows.map(_._3))
      }.toArray
    }
    val base = corpus.select(col(idCol).as("vid"),
      col(embCol).cast("array<double>").as("e"))
    val outSchema = StructType(Seq(base.schema.head,
      StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))
    base.mapPartitions { it =>
      it.map { r =>
        val ea = r.getSeq[Double](1).toArray
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          val (cids, cents) = bySub(s)
          val off = s * dsub
          val ds = new Array[Double](cents.length)
          var dmin = Double.MaxValue
          var k = 0
          while (k < cents.length) {
            val c = cents(k)
            var d = 0.0
            var i = 0
            while (i < dsub) { val t = ea(off + i) - c(i); d += t * t; i += 1 }
            ds(k) = d
            if (d < dmin) dmin = d
            k += 1
          }
          var bestCid = Int.MaxValue
          var bestR = Double.MaxValue
          k = 0
          while (k < cents.length) {
            // rounded distances are multiples of 1e-6: a candidate more
            // than 2e-6 above the raw minimum rounds strictly higher
            if (ds(k) <= dmin + 2e-6) {
              val rd = java.math.BigDecimal.valueOf(ds(k))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (rd < bestR || (rd == bestR && cids(k) < bestCid)) {
                bestR = rd; bestCid = cids(k)
              }
            }
            k += 1
          }
          codes(s) = bestCid
          s += 1
        }
        org.apache.spark.sql.Row(r.get(0), codes.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Asymmetric-distance top-k over PQ codes: each probe builds its m*ksub
    * distance table against the broadcast codebooks, and a candidate's
    * approximate distance is the SUM OF TABLE LOOKUPS along its codes —
    * O(m) adds per candidate instead of O(dim) float math, and the scan
    * carries (vid, sub, cid) integers, never vectors. Rank by rounded
    * distance + vid tie-break. Returns (qid, neighbor, dist, rn). */
  def pqAdcTopK(codes: DataFrame, probes: DataFrame, codebooks: DataFrame,
      idCol: String, embCol: String, dim: Int, m: Int, k: Int = 5,
      decimals: Int = 3): DataFrame = {
    val dtab = probes.select(col(idCol).as("qid"),
        posexplode(subvectors(col(embCol).cast("array<double>"), dim, m))
          .as(Seq("sub", "qsv")))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("qid"), col("sub"), col("cid"),
        l2sq(col("qsv"), col("centroid")).as("d"))
    val cexp = codes.select(col("vid"), posexplode(col("codes")).as(Seq("sub", "cid")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vid"))
    cexp.join(broadcast(dtab), Seq("sub", "cid"))
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("d")), decimals).as("dist"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("vid").as("neighbor"), col("dist"), col("rn"))
    // no orderBy tail (see cosineTopK note)
  }

  /** Per-vector residuals vs the coarse quantizer: (vid, list, r) where
    * r = e − centroid(nearest list). The offline training input for
    * RESIDUAL PQ codebooks (`pqCodebooks(residuals(...), "vid", "r", ...)`)
    * — the codebook artifact `ivfPqNearest(residual = true)` expects.
    * One broadcast assignment pass + a narrow zip_with; no extra shuffle. */
  def residuals(corpus: DataFrame, centroids: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("e"))
    assignToCentroids(c, centroids)
      .join(broadcast(centroids.select(col("cid"),
        col("centroid").cast("array<double>").as("lc"))), Seq("cid"))
      .select(col("vid"), col("cid").as("list"),
        zip_with(col("e"), col("lc"), (x, y) => x - y).as("r"))
  }

  /** IVF+PQ — the canonical billion-scale index (FAISS IVFADC shape): a
    * coarse quantizer routes every vector into an inverted list (cosine
    * assignment, identical to ivfNearest), and WITHIN a probe's nProbe
    * lists candidates rank by PQ asymmetric distance over their codes.
    * The search touches ~nProbe/k of the index and reads m integers per
    * candidate — never a vector: at 10^10 embeddings the index is
    * m bytes/vector and the per-probe scan is list-bounded table lookups.
    * Both quantizers are pluggable artifacts (`centroids` (cid, centroid)
    * full-dim, `codebooks` (sub, cid, centroid) per-subspace), built
    * offline by kmeansCentroids / pqCodebooks or replayed from seeds by
    * the oracles. Returns (qid, neighbor, dist, rn).
    *
    * `residual = true` is the true FAISS IVFADC: each vector encodes its
    * RESIDUAL x − centroid(list) instead of x, and each probe builds one
    * ADC distance table PER PROBED LIST from q − centroid(list).
    * Residuals are far more concentrated than raw vectors (the coarse
    * quantizer has already explained most of the variance), so the same
    * m*ksub code budget quantizes them with less distortion — recall at
    * equal m is ≥ the raw variant (IvfPqSpec pins this on planted twins).
    * Costs: the distance table grows nProbe-fold (still tiny: broadcast),
    * and the residual projection joins the broadcast centroid per row at
    * encode time (narrow, no shuffle). The raw variant stays for oracle
    * continuity and for codebooks trained on raw vectors. */
  /** OFFLINE index build for IVF+PQ: one (vid, list, sub, cid) row per
    * (vector, subspace) — list assignment by the coarse quantizer plus the
    * vector's PQ codes ([[pqEncode]]'s JIT kernel; residual = true encodes
    * x − centroid(list)). This is the persisted artifact of a deployment:
    * m integers per vector, built once, searched many times — the split
    * `ivfPqNearest` composes but a production pipeline keeps separate
    * (and what the bench times separately: build is one-time, search is
    * the recurring cost). */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      idCol: String, embCol: String, dim: Int, m: Int,
      residual: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("e"))
    val assignedFull = assignToCentroids(c, centroids)
    val assigned = assignedFull.select(col("vid"), col("cid").as("list"))
    val cents = centroids.select(col("cid").as("list"),
      col("centroid").cast("array<double>").as("lc"))
    val codes =
      if (!residual) pqEncode(corpus, idCol, embCol, codebooks, dim, m)
      else {
        // residual projection: e - centroid(list), a broadcast join plus a
        // narrow zip_with — then the same JIT'd encode kernel
        val resid = assignedFull.select(col("vid"), col("cid").as("list"), col("e"))
          .join(broadcast(cents), Seq("list"))
          .select(col("vid"), zip_with(col("e"), col("lc"), (x, y) => x - y).as("r"))
        pqEncode(resid, "vid", "r", codebooks, dim, m)
      }
    codes
      .join(assigned, Seq("vid"))
      .select(col("vid"), col("list"), posexplode(col("codes")).as(Seq("sub", "cid")))
  }

  def ivfPqNearest(corpus: DataFrame, probes: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String, embCol: String, dim: Int, m: Int,
      nProbe: Int = 2, k: Int = 5, decimals: Int = 3,
      residual: Boolean = false): DataFrame =
    ivfPqSearch(
      ivfPqIndex(corpus, centroids, codebooks, idCol, embCol, dim, m, residual),
      probes, centroids, codebooks, idCol, embCol, dim, m, nProbe, k,
      decimals, residual)

  /** ONLINE search over a prebuilt [[ivfPqIndex]] artifact. */
  def ivfPqSearch(index: DataFrame, probes: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String, embCol: String, dim: Int, m: Int,
      nProbe: Int = 2, k: Int = 5, decimals: Int = 3,
      residual: Boolean = false): DataFrame = {
    val cexp = index
    val cents = centroids.select(col("cid").as("list"),
      col("centroid").cast("array<double>").as("lc"))
    // probe side: nProbe nearest lists + the ADC distance table — one
    // per probe (raw) or one per (probe, probed list) (residual)
    val p = probes.select(col(idCol).as("qid"), col(embCol).cast("array<double>").as("qe"))
    val wP = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probeLists = p.crossJoin(broadcast(centroids))
      .withColumn("csim", round(cosine(col("qe"), col("centroid")), 6))
      .withColumn("crn", row_number().over(wP)).where(col("crn") <= nProbe)
      .select(col("qid"), col("cid").as("list"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vid"))
    val ranked =
      if (!residual) {
        val dtab = p.select(col("qid"),
            posexplode(subvectors(col("qe"), dim, m)).as(Seq("sub", "qsv")))
          .join(broadcast(codebooks), Seq("sub"))
          .select(col("qid"), col("sub"), col("cid"),
            l2sq(col("qsv"), col("centroid")).as("d"))
        cexp.join(broadcast(probeLists), Seq("list"))
          .join(broadcast(dtab), Seq("qid", "sub", "cid"))
      } else {
        val dtab = probeLists.join(p, Seq("qid"))
          .join(broadcast(cents), Seq("list"))
          .select(col("qid"), col("list"), posexplode(subvectors(
            zip_with(col("qe"), col("lc"), (x, y) => x - y), dim, m))
            .as(Seq("sub", "qsv")))
          .join(broadcast(codebooks), Seq("sub"))
          .select(col("qid"), col("list"), col("sub"), col("cid"),
            l2sq(col("qsv"), col("centroid")).as("d"))
        // the (qid, list) pairs inside dtab ARE the probe routing, so the
        // single broadcast join both routes candidates and attaches their
        // lookups
        cexp.join(broadcast(dtab), Seq("list", "sub", "cid"))
      }
    ranked
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("d")), decimals).as("dist"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("vid").as("neighbor"), col("dist"), col("rn"))
    // no orderBy tail (see cosineTopK note)
  }
}

/** Text analysis for corpus quality pipelines: tokenization, stopword
  * ratios, quality stats, language grouping — plain declarative aggregates.
  */
object TextAnalysis {

  def tokens(textCol: Column): Column = split(lower(textCol), "\\s+")

  def tokenCount(textCol: Column): Column =
    size(filter(tokens(textCol), w => w =!= ""))

  def stopwordRatio(textCol: Column, stopwords: Seq[String]): Column = {
    val ws = tokens(textCol)
    val stops = size(filter(ws, w => stopwords.map(s => w === s).reduce(_ || _)))
    stops.cast("double") / size(ws)
  }

  /** BPE-ish regex token count: the GPT-2 pre-tokenizer shape (contraction
    * suffixes, letter runs, digit runs, punctuation runs, each with an
    * optional leading space), written WITHOUT lookahead so the identical
    * pattern runs under Java regex and RE2 (DuckDB) — whitespace runs are
    * simply not tokens. A codegen'd regexp count, no UDF. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  def bpeTokenCount(textCol: Column): Column =
    size(regexp_extract_all(lower(textCol), lit(BpePattern), lit(0)))

  /** Per-language scoring profiles for `detectLang`: small sets of
    * distinctive function words (the n-gram-heuristic standard for
    * whitespace-delimited languages). Order fixes the tie-break priority. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die", "das", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "los", "las", "es", "una", "y", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"))

  /** The wide profile set (the coverage class of the reference's
    * language-identifier plugin: Tika ships ~27 n-gram profiles —
    * plugin/language-identifier/HTMLLanguageParser.java:165). Latin-script
    * languages score by distinctive-function-word hits; every pairwise
    * word overlap is ≤3 of 7, so a text dominated by one profile's words
    * always self-detects. Order fixes the tie-break priority. */
  val WideLangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that"),
    "de" -> Seq("der", "und", "die", "das", "ist", "nicht", "ein"),
    "es" -> Seq("el", "los", "las", "es", "una", "y", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "it" -> Seq("il", "di", "che", "per", "con", "sono", "della"),
    "pt" -> Seq("o", "do", "da", "em", "para", "com", "uma"),
    "nl" -> Seq("het", "een", "van", "niet", "dat", "op", "zijn"),
    "sv" -> Seq("och", "att", "det", "som", "är", "på", "av"),
    "da" -> Seq("og", "at", "der", "til", "ikke", "jeg", "han"),
    "no" -> Seq("og", "det", "ikke", "en", "som", "til", "av"),
    "fi" -> Seq("ja", "on", "ei", "että", "se", "oli", "hän"),
    "pl" -> Seq("i", "w", "nie", "na", "się", "jest", "z"),
    "cs" -> Seq("a", "se", "na", "je", "že", "to", "co"),
    "tr" -> Seq("bir", "ve", "bu", "için", "de", "ne", "çok"),
    "ro" -> Seq("și", "de", "la", "cu", "o", "este", "pentru"),
    "hu" -> Seq("a", "az", "és", "nem", "hogy", "egy", "meg"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "ini"))

  /** Script-identified languages: (lang, unicode-block char range). The
    * score is the count of codepoints in the block — no tokenization, so
    * unsegmented scripts (th, ja, zh) work. Kana before the CJK block so
    * Japanese text (kana + kanji) resolves ja over zh when kana dominate. */
  val ScriptLangs: Seq[(String, String)] = Seq(
    "ru" -> "\\x{0400}-\\x{04FF}",
    "el" -> "\\x{0370}-\\x{03FF}",
    "ar" -> "\\x{0600}-\\x{06FF}",
    "he" -> "\\x{0590}-\\x{05FF}",
    "hi" -> "\\x{0900}-\\x{097F}",
    "th" -> "\\x{0E00}-\\x{0E7F}",
    "ko" -> "\\x{AC00}-\\x{D7AF}",
    "ja" -> "\\x{3040}-\\x{30FF}",
    "zh" -> "\\x{4E00}-\\x{9FFF}")

  /** Canonical per-script sample phrases (top function words / particles)
    * for tests and the driver oracle's synthetic payloads. */
  val ScriptLangSamples: Seq[(String, String)] = Seq(
    "ru" -> "и в не на он что как это",
    "el" -> "και το να δεν είναι με του",
    "ar" -> "في من على أن إلى عن هذا",
    "he" -> "של את על לא זה עם הוא",
    "hi" -> "के है में की का से नहीं",
    "th" -> "ที่ และ การ ใน เป็น ของ ได้",
    "ko" -> "이 그 있다 하는 것 수 들",
    "ja" -> "の に は を た が で",
    "zh" -> "的 是 了 在 不 有 这")

  private def scriptScore(textCol: Column, range: String): Column =
    length(textCol) - length(regexp_replace(textCol, s"[$range]", ""))

  private def langScores(textCol: Column,
      profiles: Seq[(String, Seq[String])], cjkLang: Option[String],
      scriptLangs: Seq[(String, String)]): Seq[(String, Column)] = {
    val ws = tokens(textCol)
    profiles.map { case (lang, words) =>
      lang -> size(filter(ws, w => words.map(s => w === s).reduce(_ || _)))
    } ++ cjkLang.map(l => l -> scriptScore(textCol, "\\x{4e00}-\\x{9fff}")) ++
      scriptLangs.map { case (l, range) => l -> scriptScore(textCol, range) }
  }

  /** Language-ID heuristic: score the text against each profile (function-
    * word hits for alphabetic languages; unicode-block codepoint counts for
    * `cjkLang`/`scriptLangs`), argmax with the profile order as the
    * deterministic tie-break. Pure higher-order-function + regexp
    * expressions — engine-portable and whole-stage-codegen'd; no
    * dictionary shipping, no UDF. */
  def detectLang(textCol: Column,
      profiles: Seq[(String, Seq[String])] = LangProfiles,
      cjkLang: Option[String] = Some("zh"),
      scriptLangs: Seq[(String, String)] = Seq.empty): Column = {
    val scores = langScores(textCol, profiles, cjkLang, scriptLangs)
    val m = greatest(scores.map(_._2): _*)
    coalesce(scores.map { case (lang, sc) => when(sc === m, lit(lang)) }: _*)
  }

  /** The winning profile's score — the `lang.identification.only.certain`
    * analogue: callers gate on a minimum score to null out low-evidence
    * identifications (reference identifyLanguage:158-162). */
  def detectLangScore(textCol: Column,
      profiles: Seq[(String, Seq[String])] = LangProfiles,
      scriptLangs: Seq[(String, String)] = Seq.empty,
      cjkLang: Option[String] = None): Column =
    greatest(langScores(textCol, profiles, cjkLang, scriptLangs).map(_._2): _*)

  /** Corpus-wide word-frequency table — the tokenizer-training / vocab-prep
    * aggregate: (word, term_count, doc_count) over lowercase whitespace
    * tokens. One explode, one shuffle keyed by the word; term counts
    * partial-aggregate map-side and the single-column distinct (doc_count)
    * plans as Catalyst's standard two-phase distinct aggregate. `minCount`
    * prunes the long tail before anything downstream orders or collects.
    * Callers wanting a top-k vocab add their own deterministic tail
    * (term_count desc, word asc) — the op itself imposes no global sort. */
  def wordCounts(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): DataFrame =
    docs.select(col(idCol).as("__doc"),
        explode(filter(tokens(col(textCol)), w => w =!= "")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("term_count"),
        countDistinct(col("__doc")).as("doc_count"))
      .where(col("term_count") >= minCount)

  /** Left-to-right non-overlapping application of one BPE merge:
    * `aaa` under merge (a,a) becomes `[aa, a]` — the original learn_bpe
    * application rule. */
  def mergeSymbols(syms: Seq[String], a: String, b: String): Seq[String] = {
    val v = syms.toIndexedSeq
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < v.length) {
      if (i + 1 < v.length && v(i) == a && v(i + 1) == b) { out += a + b; i += 2 }
      else { out += v(i); i += 1 }
    }
    out.result()
  }

  /** BPE merge-training (Sennrich-style; the tokenizer-prep counterpart of
    * `bpeTokenCount`): learn `nMerges` merges from corpus word counts.
    * Returns (merge_rank, lhs, rhs, pair_count) in learned order.
    *
    * Scale shape: the corpus aggregates ONCE into the (word, count) vocab —
    * one explode + one shuffle with map-side partials (no doc-distinct
    * aggregate; only term counts matter here) — and every merge round then
    * runs over the vocab table, which is orders of magnitude smaller than
    * the corpus. Per round: one pair-histogram aggregate (overlapping
    * occurrences count, as in the original learn_bpe), ONE driver-side row
    * (the winning pair — the IVF-centroid-style bounded driver state), and
    * one narrow map applying the merge. The winner is argmax pair_count
    * with lexicographic (lhs, rhs) as the deterministic tie-break. Vocab
    * lineage is cut every round (the 2^k plan-growth pathology Lineage.scala
    * documents: the vocab is referenced twice per round). */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String, nMerges: Int,
      minPairCount: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab: org.apache.spark.sql.Dataset[(Seq[String], Long)] = Lineage.cut(
      docs.select(explode(filter(tokens(col(textCol)), w => w =!= "")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("term_count"))
        .as[(String, Long)]
        .map { case (w, c) => (w.map(_.toString): Seq[String], c) })
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val best = vocab.flatMap { case (syms, c) =>
        if (syms.length < 2) Iterator.empty
        else syms.iterator.zip(syms.iterator.drop(1)).map(p => (p._1, p._2, c))
      }.toDF("lhs", "rhs", "cnt")
        .groupBy(col("lhs"), col("rhs")).agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      best match {
        case Array((a, b, cnt)) if cnt >= minPairCount =>
          merges += ((rank, a, b, cnt))
          val prev = vocab
          vocab = Lineage.cut(prev.map { case (syms, c) =>
            (mergeSymbols(syms, a, b), c) })
          prev.unpersist()
          rank += 1
        case _ => done = true
      }
    }
    vocab.unpersist()
    merges.result().toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Per-word BPE segmentation of the corpus VOCABULARY under a trained
    * merge sequence — the apply-side counterpart of [[bpeTrain]]. The
    * merge list rides the closure (tiny by contract: nMerges rows, the
    * same bounded-driver-state discipline as PQ codebooks) and each
    * DISTINCT word is segmented exactly once: merges replay in rank order
    * with the identical left-to-right non-overlapping rule the trainer
    * used, so train -> encode is internally consistent. Returns
    * (word, symbols, n_symbols, term_count) — the vocab table is orders
    * of magnitude smaller than the corpus, which is the whole point: at
    * 100 TB the O(vocab x merges) symbol work never touches the document
    * stream. */
  def bpeSegments(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(filter(tokens(col(textCol)), w => w =!= "")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("term_count"))
      .as[(String, Long)]
      .map { case (w, c) =>
        val syms = merges.foldLeft(w.map(_.toString): Seq[String]) {
          case (s, (a, b)) => mergeSymbols(s, a, b)
        }
        (w, syms, syms.length, c)
      }
      .toDF("word", "symbols", "n_symbols", "term_count")
  }

  /** Distributed BPE encode: token counts per document under a trained
    * merge table — what [[Packing]] / `Sampling.tokenBudgetSample` consume
    * when the budget unit is real BPE tokens rather than whitespace words.
    * Returns (idCol, n_words, n_bpe_tokens); token-less documents surface
    * with zeros (the packing caller decides their fate), same left-join
    * contract as `hashedBowScore`.
    *
    * Scale shape: segmentation runs once per distinct word (the vocab
    * table, via [[bpeSegments]]); the corpus-sized (id, word) stream then
    * joins the (word, n_symbols) lookup — a short-key equi-join Catalyst
    * is free to broadcast when the vocab is small — and aggregates to one
    * row per document. Documents never carry symbol arrays; only
    * (id, word) and (id, counts) ride the exchanges. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val seg = bpeSegments(docs, idCol, textCol, merges)
      .select(col("word"), col("n_symbols"))
    val counts = docs
      .select(col(idCol), explode(filter(tokens(col(textCol)), w => w =!= "")).as("word"))
      .join(seg, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_symbols")).cast("long").as("n_bpe_tokens"))
    docs.select(col(idCol)).join(counts, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** [[bpeEncode]] over a trained merge TABLE (the `bpeTrain` output
    * schema (merge_rank, lhs, rhs, ...)): collects the merges driver-side
    * in rank order — bounded by contract like the PQ codebook collect. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame =
    bpeEncode(docs, idCol, textCol,
      merges.select(col("merge_rank"), col("lhs"), col("rhs"))
        .collect()
        .sortBy(_.getAs[Int]("merge_rank"))
        .toSeq
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))))

  /** Linear quality classifier over the hashing trick (the fastText-style
    * scoring shape every "educational value" / "quality" corpus filter
    * runs at scale): each token hashes into one of `dim` buckets, the doc
    * score is the mean bucket weight, and a threshold on the score is the
    * keep/drop decision. `weights` is the trained model as a (bucket,
    * weight) table — tiny (dim rows), so Catalyst broadcasts it and the
    * per-doc aggregation partial-aggregates map-side; documents with no
    * tokens score null. Text never rides the shuffle — only (id, bucket).
    */
  def hashedBowScore(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dim: Int): DataFrame = {
    val scored = docs.select(col(idCol),
        explode(filter(tokens(col(textCol)), w => w =!= "")).as("word"))
      .withColumn("bucket", pmod(Dedup.hash40(col("word")), lit(dim.toLong)))
      .join(org.apache.spark.sql.functions.broadcast(weights), Seq("bucket"), "left_outer")
      .groupBy(col(idCol))
      .agg(avg(coalesce(col("weight"), lit(0.0))).as("score"),
        count(lit(1)).as("n_tokens"))
    // the explode drops token-less docs entirely; join scores back onto
    // the full id set so they surface with a null score and CALLERS decide
    // their fate (the second scan projects only the id column — pruned)
    docs.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol), col("score"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** In-engine training for the hashing-trick quality classifier — the
    * missing half of the `hashedBowScore` seam (score-only until now; the
    * model had to arrive from outside). A batch PERCEPTRON over the
    * hashed bag-of-words counts, deliberately integer-exact: scores are
    * Σ w[bucket]·count with long weights, the update adds label·count for
    * every misclassified document, and a doc is misclassified when
    * label·score ≤ 0 — no floats anywhere, so training is bit-reproducible
    * across engines/cluster sizes and a DuckDB oracle replays it round for
    * round (q_train_classifier). On linearly separable classes the
    * perceptron converges to a perfect separator; the output (bucket,
    * weight) table plugs straight into `hashedBowScore` /
    * `CorpusPipeline.clean` (sign-preserving long -> double cast).
    *
    * Scale shape: the corpus aggregates ONCE into the (id, bucket, cnt)
    * feature matrix — the same (id, short-key) stream hashedBowScore
    * shuffles — and is persisted; each round is then two passes over it
    * (a broadcast-weights score aggregate and a left-semi-gated update
    * aggregate), both shuffling (id)/(bucket) short keys only. Weights
    * live driver-side between rounds: dim-bounded by contract, the
    * k-means-centroid discipline.
    *
    * `labels`: (idCol, label) with label ∈ {-1, +1}. Returns (bucket,
    * weight: double) covering every bucket the corpus touches (untouched
    * buckets stay implicitly 0, matching hashedBowScore's coalesce). */
  def trainHashedBowPerceptron(docs: DataFrame, idCol: String, textCol: String,
      labels: DataFrame, dim: Int, iters: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val x = docs
      .select(col(idCol), explode(filter(tokens(col(textCol)), w => w =!= "")).as("word"))
      .withColumn("bucket", pmod(Dedup.hash40(col("word")), lit(dim.toLong)))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("cnt"))
      .join(labels.select(col(idCol), col("label").cast("long").as("label")), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    x.count()
    var w = Map.empty[Long, Long]
    var converged = false
    var it = 0
    while (it < iters && !converged) {
      val wdf =
        if (w.isEmpty) Seq.empty[(Long, Long)].toDF("bucket", "w")
        else w.toSeq.toDF("bucket", "w")
      val mis = x
        .join(org.apache.spark.sql.functions.broadcast(wdf), Seq("bucket"), "left_outer")
        .groupBy(col(idCol), col("label"))
        .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("score"))
        .where(col("label") * col("score") <= 0)
        .select(col(idCol))
      val delta = x.join(mis, Seq(idCol), "left_semi")
        .groupBy(col("bucket")).agg(sum(col("label") * col("cnt")).as("d"))
        .collect() // dim-bounded driver state, like k-means centroids
      if (delta.isEmpty) converged = true
      else delta.foreach { r =>
        val b = r.getLong(0)
        w = w.updated(b, w.getOrElse(b, 0L) + r.getLong(1))
      }
      it += 1
    }
    val touched = x.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)) // dim-bounded
    x.unpersist()
    touched.toSeq.map(b => (b, w.getOrElse(b, 0L).toDouble)).toDF("bucket", "weight")
  }

  /** A deterministic md5-derived weight table in [-0.5, 0.5) — the
    * stand-in "model" for tests and oracles (a real model replaces it row
    * for row; the scoring plan is identical). */
  def syntheticWeights(spark: org.apache.spark.sql.SparkSession,
      dim: Int): DataFrame = {
    import spark.implicits._
    (0 until dim).map(_.toLong).toDF("bucket")
      .withColumn("weight",
        pmod(Dedup.hash40(concat(lit("w"), col("bucket"))), lit(1000L))
          .cast("double") / 1000.0 - 0.5)
  }

  /** A double rounded to `k` decimals on its binary value, half away from
    * zero: round(x * 10^k) / 10^k, as C's `round` and DuckDB compute it.
    * Spark's `round(x, k)` rounds the decimal string HALF_UP instead, which
    * differs on ties like an average of exactly 313.585 (binary
    * 313.58499…): 313.59 there, 313.58 here. */
  def roundBinary(x: Column, k: Int): Column = {
    val m = math.pow(10, k)
    round(x * m) / m
  }

  /** Per-language quality aggregates (cnt, avg tokens/chars, stop ratio). */
  def qualityByLang(docs: DataFrame, textCol: String, langCol: String,
      charsCol: String, stopwords: Seq[String] = Seq("the", "a")): DataFrame =
    docs
      .withColumn("ws", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("ws")))
      .withColumn("n_stop", size(filter(col("ws"),
        w => stopwords.map(s => w === s).reduce(_ || _))))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("cnt"),
        roundBinary(avg(col("n_tokens")), 4).as("avg_tokens"),
        roundBinary(avg(col(charsCol)), 2).as("avg_chars"),
        roundBinary(avg(col("n_stop").cast("double") / col("n_tokens")), 4).as("stop_ratio"))
  // no orderBy tail: per-language output is tiny, but the op stays
  // sort-free like the rest of the family — presentation layers sort
}
