package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate/exact nearest-neighbor search over an embedding column
  * (builder north star: brute-force cosine top-k baseline + bucketed
  * variants as the scale path).
  *
  * Vector math goes through the native [[graft.functions.CosineSimilarity]]
  * expression (fused codegen loop). The fold formulations stay as the
  * reference semantics: same index-order accumulation, so both produce
  * bit-identical doubles and match the SQL oracles exactly.
  */
object Similarity {

  /** Sequential-fold dot product (interpreted reference formulation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  /** cosine = dot / (sqrt(||a||²) * sqrt(||b||²)) — structured exactly like
    * the DuckDB oracle formula for ulp-level agreement; evaluated by the
    * fused codegen expression. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  /** The higher-order-function formulation of [[cosine]] — kept as the
    * equivalence oracle for the native expression's spec. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * neighbors ranked by (rounded cosine desc, neighbor id) — the rounding
    * makes cross-engine ranking deterministic.
    *
    * Scale: O(|Q|·|N|) — correct baseline; broadcast the query side (small
    * by construction) so the big side never shuffles. Use [[ivfTopK]] when
    * |Q| is large. */
  /** RANGE search: every corpus neighbor with rounded cosine ≥ `minCos`
    * of each query vector — the radius-query twin of [[bruteForceTopK]]
    * (top-k bounds the COUNT, range bounds the SIMILARITY; retrieval
    * pipelines use range queries when the score threshold is the
    * contract, e.g. "everything ≥ 0.8 is a near-duplicate candidate").
    *
    * Scale: same posture as the brute top-k — broadcast the (small by
    * construction) query side, the corpus never shuffles and there is no
    * window: the filter is map-side, so output cost is the answer's
    * size. For corpus×corpus radius search use the LSH-banded pair path
    * ([[graft.pipeline.Dedup.embeddingNearDupPairs]]). */
  def rangeSearch(queries: DataFrame, corpus: DataFrame, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val c = graft.util.Spread(corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec")))
    c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("qvec"), col("nvec")), 4))
      .filter(col("cos") >= minCos)
      .select(col("qid"), col("nid"), col("cos"))
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val c0 = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    // the big side never shuffles, so its parallelism is the SCAN's — a
    // single-row-group parquet file would run the whole O(|Q|·|N|) cosine
    // loop on one core. Guarded spread (see util.Spread): no-op at real
    // scale where the scan has plenty of splits.
    val c = graft.util.Spread(c0)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("qvec"), col("nvec")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** FAISS-style SQ8 scalar quantization, train step: per-dimension
    * (min, max) over the corpus — the uniform quantizer's range. Exact
    * and order-independent (min/max carry no float-sum drift), so unlike
    * the k-means quantizers the whole SQ8 family is full-value
    * oracle-checkable. One posexplode + one dims-bounded groupBy; the
    * result is dims-sized driver data (the codebook of SQ). */
  def sq8Train(corpus: DataFrame, vecCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val st = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    (st.map(_.getDouble(1)), st.map(_.getDouble(2)))
  }

  /** SQ8 encode: one byte per dimension,
    * `code_i = clamp(round((v_i − mn_i) / (mx_i − mn_i) · 255), 0, 255)`
    * (a constant-range dim encodes 0). Pure map-side — the compressed
    * corpus is 4× smaller than float32, which is the point of SQ at
    * scale: the top-k scan below reads codes, not vectors. The clamp only
    * binds for out-of-training-range batch vectors. */
  def sq8Encode(corpus: DataFrame, mn: Array[Double], mx: Array[Double],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mnL = array(mn.map(lit): _*)
    val mxL = array(mx.map(lit): _*)
    corpus.select(col(idCol).as("nid"),
      transform(sequence(lit(1), lit(mn.length)), i => {
        val m = element_at(mnL, i)
        val x = element_at(mxL, i)
        val v = element_at(col(vecCol).cast("array<double>"), i)
        when(x === m, lit(0)).otherwise(
          least(lit(255), greatest(lit(0),
            round((v - m) / (x - m) * lit(255.0)).cast("int"))))
      }).as("codes"))
  }

  /** SQ8 asymmetric top-k: raw query floats against DECODED corpus codes
    * (`dec_i = mn_i + (code_i · (mx_i − mn_i)) / 255`), squared-L2, rank
    * (dist ASC, nid). The s01 shape — broadcast queries, the code table
    * scans once (guarded spread), per-query window top-k — but the scan
    * side is the 4×-compressed codes. The decode+distance fold runs in
    * ascending dim order (one `aggregate`, codegen'd), the exact
    * parenthesization the DuckDB oracle replays; ranking uses the rounded
    * distance (the s01 rounded-cos convention). At production scale the
    * per-query decode arithmetic would fold into a 256-entry-per-dim LUT
    * (the FAISS trick) — same output, table lookup instead of FMA. */
  def sq8TopK(queries: DataFrame, codes: DataFrame,
      mn: Array[Double], mx: Array[Double], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mnL = array(mn.map(lit): _*)
    val mxL = array(mx.map(lit): _*)
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val dist = aggregate(sequence(lit(1), lit(mn.length)), lit(0.0),
      (acc, i) => {
        val m = element_at(mnL, i)
        val x = element_at(mxL, i)
        val dec = m +
          (element_at(col("codes"), i).cast("double") * (x - m)) / lit(255.0)
        val diff = element_at(col("qvec"), i) - dec
        acc + diff * diff
      })
    val scored = graft.util.Spread(codes).crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dist", round(dist, 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist"), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("dist"))
  }

  /** IVF-style ANN: partition the corpus into cells (here: the `label`
    * column as the coarse quantizer — at scale this is k-means), compute
    * cell centroids, probe the `nprobe` nearest cells per query, brute-force
    * only inside probed cells.
    *
    * Scale: the centroid table is tiny (broadcast); per-query work drops by
    * ~|cells|/nprobe; the corpus is shuffled once on cell id and can stay
    * partitioned that way for repeated queries. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(cellCol).as("cell"),
      col(vecCol).cast("array<double>").as("nvec"))
    probeCells(queries, c, cellCentroids(c), k, nprobe, idCol, vecCol)
  }

  /** Centroid per cell as the element-wise mean: (cell, cvec). */
  private def cellCentroids(c: DataFrame): DataFrame =
    c.select(col("cell"), posexplode(col("nvec")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
      .select(col("cell"), transform(col("im"), s => s.getField("m")).as("cvec"))

  /** Shared IVF probe: rank cells by query-centroid cosine, take nprobe,
    * score only the probed cells' members. `c` = (nid, cell, nvec). */
  private def probeCells(queries: DataFrame, c: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("qvec"), col("cvec")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("qvec"), col("cell"))
    val scored = probed.join(c, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("qvec"), col("nvec")), 4))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** PERSISTED IVF index — the build-once / probe-many lifecycle a 100 TB
    * deployment needs: the index is two parquet tables, the quantizer
    * (`centroids/`: cell, cvec — k rows, broadcastable forever) and the
    * posting lists (`assignments/`: id, cell — one row per corpus vector,
    * partition-prunable by cell if written partitioned). The corpus
    * vectors stay in the base table; the index references ids, so a
    * re-embed or re-shard of the corpus invalidates nothing but the
    * assignment join. Build is one k-means batch job; a probe reads ONLY
    * the centroid table plus the probed cells' members. */
  def buildIvfIndex(corpus: DataFrame, nCells: Int, iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val assign = kmeansCells(corpus, nCells, iters, idCol, vecCol)
    val c = corpus.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("nvec"))
      .join(assign.select(col("id").as("nid"), col("cell")), "nid")
    (cellCentroids(c), assign)
  }

  /** Persist an IVF index through [[graft.util.PersistedIndex]]: the
    * assignments are its row table, the centroids a side table. */
  def writeIvfIndex(centroids: DataFrame, assignments: DataFrame,
      dir: String): Unit =
    graft.util.PersistedIndex(assignments.sparkSession, dir)
      .build(assignments, sides = Map("centroids" -> centroids))

  /** (centroids, published assignments) of a persisted IVF index. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val idx = graft.util.PersistedIndex(spark, dir)
    (idx.side("centroids"), idx.rows)
  }

  /** Assign a vector batch to the NEAREST EXISTING cell of a persisted
    * quantizer frame (cell, cvec) — the no-retrain maintenance path. The
    * quantizer is collected (nCells rows — the bounded-index posture) and
    * flows as broadcast DATA; the argmin is the same squared-L2 the
    * builder uses, with the argmin position mapped back to the persisted
    * cell ids (cells can be non-contiguous when a build left a cell
    * empty). Returns (id, cell). */
  def assignToCells(batch: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cents = centroids
      .select(col("cell").cast("int"), col("cvec").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignToCells: empty quantizer")
    val centDf = Seq((cents.toSeq.map(_._2), cents.toSeq.map(_._1)))
      .toDF("cents", "ids").withColumn("ck", lit(1))
    val v = batch.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val dists = transform(col("cents"), c =>
      aggregate(zip_with(col("vec"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, d) => acc + d))
    v.withColumn("ck", lit(1)).join(broadcast(centDf), "ck")
      .withColumn("cell",
        element_at(col("ids"), array_position(dists, array_min(dists))
          .cast("int")))
      .select(col("id"), col("cell"))
  }

  /** Append a new-vector batch to a PERSISTED IVF index as batch
    * `batchId`, WITHOUT retraining (the FAISS `add`-after-`train`
    * maintenance op): its postings are assigned against the stored
    * quantizer, which stays untouched — one assignment pass over the
    * batch, never a rebuild of the corpus index. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batchId: Long, batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val idx = graft.util.PersistedIndex(spark, dir)
    idx.append(batchId,
      assignToCells(batch, idx.side("centroids"), idCol, vecCol))
  }

  /** Append a batch to a PERSISTED PQ index as batch `batchId`, WITHOUT
    * retraining: encode with the stored codebook. Because encoding is a
    * pure per-row function of (vector, codebook), the appended index is
    * BIT-IDENTICAL to re-encoding the union corpus against the same
    * codebook — the probe-equality contract the spec pins. */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batchId: Long, batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    graft.util.PersistedIndex(spark, dir).append(batchId,
      pqEncode(batch, readPqIndex(spark, dir)._1, idCol, vecCol))

  /** DELETE ids from a persisted PQ or IVF index without retraining
    * (takedowns, retention expiry), as a [[graft.util.PersistedIndex]]
    * rewrite: codebook, quantizer and every other row are untouched, so
    * the remaining PQ index is BIT-IDENTICAL to encoding the remaining
    * corpus against the same codebook. */
  def withoutIds(removeIds: DataFrame,
      idCol: String = "vec_id"): DataFrame => DataFrame =
    _.join(removeIds.select(col(idCol).cast("long").as("id")),
      Seq("id"), "left_anti")

  /** Probe a LOADED index against the base corpus table. */
  def ivfProbeIndex(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, assignments: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("nvec"))
      .join(assignments.select(col("id").as("nid"), col("cell")), "nid")
    probeCells(queries, c, centroids, k, nprobe, idCol, vecCol)
  }

  /** Lloyd's k-means over the embedding column — the real IVF coarse
    * quantizer (upgrades the label-as-cell stand-in). Deterministic:
    * seeds are the k lowest-xxhash64 ids, iteration count is fixed — same
    * cells on any cluster, any partitioning.
    *
    * Training follows the FAISS IVF recipe: Lloyd runs on the DRIVER over
    * a bounded deterministic sample (the `trainCap` lowest-xxhash64 ids —
    * one TakeOrdered job; a coarse quantizer with k cells needs ~256·k
    * training points, not the corpus), then ONE distributed assignment
    * pass labels every vector. Per-iteration cost is pure local
    * arithmetic — zero Spark jobs inside the loop (the previous
    * distributed-mean form paid 2 exchanges + a collect job per
    * iteration of fixed overhead at sf0.1: s03 2.8→1.8 s, s07 2.7→2.0 s,
    * s02 1.6→1.1 s steady, TimeQuery reps=3). When the corpus fits the
    * cap (any test SF) the sample IS the corpus, so the math is exactly
    * the old all-data Lloyd.
    *
    * The final assignment broadcasts the centroids as DATA (a 1-row
    * frame joined on a constant key), not as a `typedLit` — a literal
    * embeds the trained values in the expression tree, giving every
    * (re)build a fresh plan shape and a fresh Janino compile (the
    * changing-literal anti-pattern the path expander had). With the
    * broadcast join all builds share ONE compiled plan shape.
    * Returns (id, cell). */
  def kmeansCells(emb: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainCap: Int = 65536): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // ONE job: deterministic sample (and seeds = its first k rows), in
    // xxhash64-of-id order so the choice is partitioning-independent
    val sample = trainSample(v, trainCap)
    val centroids = lloydLocal(sample, k, iters)

    val centDf = Seq(Tuple1(centroids.toSeq.map(_.toSeq)))
      .toDF("cents").withColumn("ck", lit(1))
    val dists = transform(col("cents"), c =>
      aggregate(zip_with(col("vec"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, d) => acc + d))
    // guarded spread BEFORE the per-row assignment (round 17): the k×dim
    // interpreted-HOF argmin otherwise runs the whole corpus on the one
    // core a single-row-group scan provides (the hyperplaneBuckets
    // posture); no-op at real scale where the scan has many splits
    graft.util.Spread(v).withColumn("ck", lit(1))
      .join(broadcast(centDf), "ck")
      .withColumn("cell",
        (array_position(dists, array_min(dists)) - 1).cast("int"))
      .select(col("id"), col("cell"))
  }

  /** Driver-local Lloyd's iterations (seeds = first k sample rows, fixed
    * iteration count, empty cells keep their previous centroid) — the
    * shared trainer behind [[kmeansCells]] and [[pqTrain]]. Deterministic
    * for a deterministic sample. */
  private def lloydLocal(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = sample.take(k).map(_.clone())
    val dim = if (sample.nonEmpty) sample(0).length else 0
    var it = 0
    while (it < iters && sample.nonEmpty) {
      it += 1
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { x =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          val cv = centroids(c); var d = 0.0; var i = 0
          while (i < dim) { val t = x(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < dim) { s(i) += x(i); i += 1 }
        counts(best) += 1
      }
      // empty cells keep their previous centroid (standard Lloyd's)
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Deterministic driver-side training sample: the `cap` lowest-xxhash64
    * ids, one TakeOrdered job — partitioning-independent. */
  private def trainSample(v: DataFrame, cap: Int): Array[Array[Double]] =
    v.orderBy(xxhash64(col("id")), col("id")).limit(cap)
      .select(col("vec")).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)

  /** Product-quantization codebooks (Jégou–Douze–Schmid 2011, TPAMI —
    * the FAISS PQ/ADC recipe): split the D-dim space into `m` orthogonal
    * subspaces of D/m dims and train `ksub` centroids per subspace with
    * driver-local Lloyd over a bounded deterministic sample (same
    * training posture as [[kmeansCells]] — a codebook needs ~256·ksub
    * points, not the corpus). Returns codebook[m][ksub][D/m]: m·ksub·D/m
    * doubles ≈ KBs, broadcastable everywhere.
    *
    * Why PQ at 100 TB: raw float32 embeddings are the dominant ANN cost
    * (64-dim = 256 B/vector); PQ codes are m bytes (64× smaller at
    * m=8/ksub=16 here), so the probe scan reads codes, not vectors —
    * the memory-bounded ANN shape. */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainCap: Int = 65536): Array[Array[Array[Double]]] = {
    val v = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val sample = trainSample(v, trainCap)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(x =>
        java.util.Arrays.copyOfRange(x, j * dsub, (j + 1) * dsub))
      lloydLocal(sub, ksub, iters)
    }
  }

  /** Encode the corpus against a trained codebook: ONE distributed pass,
    * codebook flowing as broadcast DATA (1-row frame — the stable-plan
    * convention from [[kmeansCells]]: a `typedLit` would bake the trained
    * values into the expression tree and recompile per build). Per
    * subspace the nearest-centroid argmin runs as higher-order functions
    * inside whole-stage codegen. Returns (id, codes: array<int> of
    * length m) — the m-byte compressed corpus. */
  def pqEncode(corpus: DataFrame, codebook: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbDf = Seq(Tuple1(codebook.toSeq.map(_.toSeq.map(_.toSeq))))
      .toDF("cb").withColumn("ck", lit(1))
    val v = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // guarded spread BEFORE the m·ksub·dsub encode kernel (round 17) —
    // same posture as the ADC scan in [[pqTopK]], which already spreads
    graft.util.Spread(v).withColumn("ck", lit(1)).join(broadcast(cbDf), "ck")
      .withColumn("codes",
        graft.functions.PqExpressions.encode(col("vec"), col("cb")))
      .select(col("id"), col("codes"))
  }

  /** HOF formulation of [[pqEncode]]'s argmin — kept as the equivalence
    * oracle for the native [[graft.functions.PqEncodeCodes]] kernel's
    * spec (the cosineHof convention). Note `dsub` is a closure constant
    * here: the HOF form cannot derive it from the codebook column. */
  private[graft] def pqEncodeHof(corpus: DataFrame,
      codebook: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = codebook(0)(0).length
    val cbDf = Seq(Tuple1(codebook.toSeq.map(_.toSeq.map(_.toSeq))))
      .toDF("cb").withColumn("ck", lit(1))
    val v = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val codes = transform(col("cb"), (sub, j) => {
      val s = slice(col("vec"), j * dsub + 1, lit(dsub))
      val dists = transform(sub, c =>
        aggregate(zip_with(s, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
    v.withColumn("ck", lit(1)).join(broadcast(cbDf), "ck")
      .withColumn("codes", codes)
      .select(col("id"), col("codes"))
  }

  /** ADC top-k over PQ codes with exact re-rank (the production two-stage
    * retrieval shape): each query precomputes its m×ksub distance lookup
    * table against the codebook (tiny, rides the query broadcast), the
    * codes table is scanned ONCE with the approximate distance as m table
    * lookups per row — no vector math against the corpus — and only the
    * top `k·rerankFactor` ADC candidates per query fetch their real
    * vectors for an exact cosine re-rank to the final k.
    *
    * Scale: the full scan touches m-byte codes (64× less IO than raw
    * vectors at m=8); LUTs are query-side broadcast data; the re-rank
    * joins |Q|·k·rerankFactor candidate ids against the corpus — an
    * equi-join whose small side broadcasts. Output matches
    * [[bruteForceTopK]]'s (qid, rank, nid, cos) so recall contracts
    * compose. */
  def pqTopK(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
      codebook: Array[Array[Array[Double]]], k: Int, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val scored = graft.util.Spread(codes)
      .crossJoin(broadcast(adcLuts(q, codebook)))
      .filter(col("qid") =!= col("id"))
      .withColumn("adist", adcDist)
    adcRerank(scored, q, corpus, k, rerankFactor, idCol, vecCol)
  }

  /** Per-query ADC lookup tables against the codebook: (qid, lut) with
    * lut[j][c] = ||q_subj − cb[j][c]||². Codebook flows as broadcast
    * DATA (stable plan shape). */
  private[graft] def adcLuts(q: DataFrame,
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val dsub = codebook(0)(0).length
    val cbDf = Seq(Tuple1(codebook.toSeq.map(_.toSeq.map(_.toSeq))))
      .toDF("cb").withColumn("ck", lit(1))
    val lut = transform(col("cb"), (sub, j) => {
      val s = slice(col("qvec"), j * dsub + 1, lit(dsub))
      transform(sub, c =>
        aggregate(zip_with(s, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d))
    })
    q.withColumn("ck", lit(1)).join(broadcast(cbDf), "ck")
      .withColumn("lut", lut)
      .select(col("qid"), col("lut"))
  }

  /** Approximate distance: m table lookups per (query, code row) — the
    * per-scored-row hot path, fused by the native
    * [[graft.functions.PqAdcDistance]] kernel. */
  private def adcDist: Column =
    graft.functions.PqExpressions.adcDistance(col("lut"), col("codes"))

  /** HOF formulation of [[adcDist]] — the native kernel's equivalence
    * oracle (spec-only). */
  private[graft] def adcDistHof: Column =
    aggregate(zip_with(col("lut"), col("codes"),
      (l, c) => element_at(l, c + 1)), lit(0.0), (acc, d) => acc + d)

  /** Cut to the top k·rf ADC candidates per query, then exact-cosine
    * re-rank against the real vectors — the shared tail of [[pqTopK]] and
    * [[pqIvfTopK]]. `scored` needs (qid, id, adist). */
  private def adcRerank(scored: DataFrame, q: DataFrame, corpus: DataFrame,
      k: Int, rerankFactor: Int, idCol: String, vecCol: String): DataFrame = {
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("id"))
    val cand = scored.withColumn("crk", row_number().over(wA))
      .filter(col("crk") <= k * rerankFactor)
      .select(col("qid"), col("id").as("nid"))
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val wE = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    broadcast(cand).join(c, "nid")
      .join(q, "qid")
      .withColumn("cos", round(cosine(col("qvec"), col("nvec")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Persist a PQ index, a [[graft.util.PersistedIndex]]: the code table
    * (m ints per corpus vector — the 32× compressed probe scan) is its
    * rows, the codebook (one row, KBs — broadcastable forever) a side
    * table. */
  def writePqIndex(spark: org.apache.spark.sql.SparkSession,
      codebook: Array[Array[Array[Double]]], codes: DataFrame,
      dir: String): Unit = {
    import spark.implicits._
    graft.util.PersistedIndex(spark, dir).build(codes, sides = Map(
      "codebook" -> Seq(Tuple1(codebook.toSeq.map(_.toSeq.map(_.toSeq))))
        .toDF("cb")))
  }

  /** (codebook, published codes) of a persisted PQ index. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Array[Array[Double]]], DataFrame) = {
    val idx = graft.util.PersistedIndex(spark, dir)
    val cb = idx.side("codebook").head()
      .getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      .map(_.map(_.toArray).toArray).toArray
    (cb, idx.rows)
  }

  /** IVFADC (Jégou et al. 2011, §IV; the FAISS IVF+PQ composition): the
    * coarse k-means quantizer prunes the corpus to `nprobe` of `nCells`
    * posting lists per query, and ONLY those cells' PQ codes are ADC-
    * scored before the exact re-rank. This is the full big-corpus probe
    * shape: the scan cost drops to ~nprobe/nCells of the code table,
    * which itself is 32× smaller than the vectors — cells prune IO,
    * codes compress it, the re-rank restores exactness on a candidate
    * set of k·rf rows per query.
    *
    * Scale: the cell assignment is an equi-join of codes to postings
    * (one shuffle, or free if both are bucketed by id); probed (qid,
    * cell) pairs and LUTs are tiny broadcasts; nothing quadratic
    * anywhere. */
  def pqIvfTopK(queries: DataFrame, corpus: DataFrame,
      codebook: Array[Array[Array[Double]]], k: Int, nprobe: Int,
      nCells: Int, iters: Int = 4, rerankFactor: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cent, assign) = buildIvfIndex(corpus, nCells, iters, idCol, vecCol)
    val codes = pqEncode(corpus, codebook, idCol, vecCol)
      .join(assign.select(col("id"), col("cell")), "id")
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(col("qvec"), col("cvec")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("cell"))
    val scored = codes
      .join(broadcast(probed), "cell") // cell pruning BEFORE any scoring
      .join(broadcast(adcLuts(q, codebook)), "qid")
      .filter(col("qid") =!= col("id"))
      .withColumn("adist", adcDist)
    adcRerank(scored, q, corpus, k, rerankFactor, idCol, vecCol)
  }

  /** IVF with the k-means quantizer: cluster the corpus, then delegate to
    * [[ivfTopK]] with the learned cells. */
  def ivfTopKKmeans(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int, nCells: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = kmeansCells(corpus, nCells, iters, idCol, vecCol)
      .withColumnRenamed("id", idCol)
    ivfTopK(queries, corpus.join(cells, idCol), k, nprobe,
      idCol = idCol, vecCol = vecCol, cellCol = "cell")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): group the corpus into coarse semantic cells, compare
    * embeddings pairwise ONLY within a cell, and keep one representative
    * (min id) per group of vectors whose cosine clears the threshold.
    * Cell pruning is the point: pairwise cost drops from corpus² to
    * Σ cell² — the SemDeDup approximation that cross-cell near-dups are
    * rare, since the quantizer put them far apart.
    *
    * `cellCol` is the coarse quantizer: the curated `label` column here
    * (SQL-replayable, so the d14 gate gets a full value oracle); swap in
    * [[kmeansCells]] for the learned quantizer at corpus scale (the s03
    * path — same shape, engine-private cells).
    *
    * Returns (cell, id, keep): every vector, flagged. Scale: one
    * within-cell self-join (shuffles on cell), exact cosine inside the
    * join, then component contraction on the (tiny) above-threshold pair
    * list. MEGA-CELL GUARD: cells above `saltBound` members are salted
    * into triangle blocks ([[cellPairCandidates]]) so one skewed cell can
    * never serialize its pairwise work onto one task — the pair set is
    * IDENTICAL (not an approximation), so keep-flags are unchanged by
    * construction and the d14 oracle holds verbatim. */
  def semanticDedupFlags(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label", saltBound: Int = 10000): DataFrame = {
    val v = emb.select(col(cellCol).as("cell"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val pairs = cellPairCandidates(v, saltBound)
      // same rounded-cosine convention as the brute/IVF top-k and d06:
      // identical IEEE expression order in both engines
      .filter(round(cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("id_a"), col("id_b"))
    // min-id representative per duplicate group (transitive: a~b, b~c ⇒
    // one survivor even when a~c is below threshold — the same contract
    // as the d10 keep-list)
    val dropped = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    v.select(col("cell"), col("id"))
      .join(dropped.withColumn("dropFlag", lit(true)), Seq("id"), "left_outer")
      .select(col("cell"), col("id"),
        coalesce(!col("dropFlag"), lit(true)).as("keep"))
  }

  /** Within-cell candidate pairs with the MEGA-CELL SALT: every unordered
    * pair of distinct vectors sharing a cell, exactly once, with per-task
    * pairwise work bounded even when one cell dwarfs the rest (the d14
    * skew hardening — the plain self-join shuffles on `cell`, so a
    * mega-cell's |cell|² pair work lands on ONE task).
    *
    * Triangle blocking: each cell of n members gets a salt factor
    * s = ⌈n / saltBound⌉ (one broadcast join against the cell-size table,
    * which is quantizer-bounded — k cells, not corpus rows). A member
    * with salt g = hash(id) mod s replicates to the s blocks
    * (min(g,k), max(g,k)); the join runs on (cell, bl, bh), so block
    * (p,q) holds only salts p and q — ~2n/s rows, (2n/s)² pair work per
    * task, s(s+1)/2 tasks per mega-cell. Exactness: a cross-salt pair
    * meets exactly in its own block in both orders, a same-salt-p pair
    * would ALSO meet in every (p,k) block — the `bl = bh ∨ gₐ ≠ g_b`
    * filter scopes same-salt pairs to their diagonal block — and the
    * usual id_a < id_b keeps one orientation. s = 1 (every cell within
    * the bound) degenerates to the plain within-cell join, block (0,0).
    *
    * Returns (cell, bl, bh, id_a, va, id_b, vb) — the block coordinates
    * stay visible so skew guards (the SaltedCellSpec work-bound check,
    * future profilers) can see the task decomposition. */
  private[graft] def cellPairCandidates(v: DataFrame,
      saltBound: Int): DataFrame = {
    require(saltBound >= 1, "saltBound must be positive")
    val sizes = v.groupBy(col("cell"))
      .agg(ceil(count(lit(1)).cast("double") / saltBound)
        .cast("int").as("_s"))
    val salted = v.join(broadcast(sizes), "cell")
      .withColumn("_g", pmod(xxhash64(col("id")), col("_s").cast("long"))
        .cast("int"))
    def side(idAs: String, vecAs: String, gAs: String): DataFrame =
      salted
        .withColumn("_k", explode(sequence(lit(0), col("_s") - 1)))
        .select(col("cell"),
          least(col("_g"), col("_k")).as("bl"),
          greatest(col("_g"), col("_k")).as("bh"),
          col("_g").as(gAs), col("id").as(idAs), col("vec").as(vecAs))
    side("id_a", "va", "_ga")
      .join(side("id_b", "vb", "_gb"), Seq("cell", "bl", "bh"))
      .filter(col("bl") === col("bh") || col("_ga") =!= col("_gb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cell"), col("bl"), col("bh"),
        col("id_a"), col("va"), col("id_b"), col("vb"))
  }

  /** Per-cell [[semanticDedupFlags]] rollup: (cell, n_vecs, n_kept). */
  def semanticDedupSummary(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame =
    semanticDedupFlags(emb, threshold, idCol, vecCol, cellCol)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("keep"), 1)).as("n_kept"))

  /** Partitioned k-NN JOIN: every vector's k nearest neighbors (cosine),
    * computed exactly WITHIN its coarse cell — the standard distributed
    * kNN-join shape (partition by a quantizer, exact inside the partition)
    * used to build kNN graphs for clustering, dedup and retrieval evals.
    * Contrast with [[bruteForceTopK]], whose broadcast-the-queries plan
    * assumes a SMALL query side; here both sides are the corpus, so the
    * join is an equi-join on `cell` — one shuffle of each side, Σ cell²
    * pairwise work instead of corpus², no broadcast of anything large.
    *
    * `cellCol` is the quantizer: the curated `label` column here (so the
    * s04 gate gets a full value oracle); swap in [[kmeansCells]] at corpus
    * scale, capping cell size at the quantizer if skewed (a mega-cell
    * re-creates the all-pairs blow-up this shape exists to avoid —
    * SemDeDup/d14 note applies verbatim).
    *
    * Returns (cell, qid, rank, nid, cos): neighbors ranked by (rounded
    * cosine desc, nid) — the same cross-engine-deterministic tie-break as
    * s01. Cells smaller than k+1 yield fewer than k rows (no padding). */
  def knnJoinWithinCells(emb: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val v = emb.select(col(cellCol).as("cell"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val a = v.select(col("cell"), col("id").as("qid"), col("vec").as("qvec"))
    val b = v.select(col("cell"), col("id").as("nid"), col("vec").as("nvec"))
    // pair symmetry (round 17, guide §2.3): a within-cell pair exists in
    // both directions, so join/score each UNORDERED pair once (qid < nid
    // — half the join output, half the cosine kernels) and mirror the
    // scored rows in-stream (explode, not a self-union — union branches
    // would re-execute the join). Exact: cosine is bit-commutative.
    val half = a.join(b, Seq("cell"))
      .filter(col("qid") < col("nid"))
      .select(col("cell"), col("qid"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 4).as("cos"))
    val scored = half.select(col("cell"), explode(array(
        struct(col("qid"), col("nid")),
        struct(col("nid").as("qid"), col("qid").as("nid")))).as("p"),
        col("cos"))
      .select(col("cell"), col("p.qid").as("qid"), col("p.nid").as("nid"),
        col("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("cell"), col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Approximate kNN JOIN at corpus scale, single LSH table: hyperplane-
    * bucket the corpus ([[hyperplaneBuckets]] — deterministic, no learned
    * state) and run the exact [[knnJoinWithinCells]] inside each bucket.
    * One table has low recall (a neighbor pair splits whenever ANY plane
    * separates it) — [[knnJoinLshMulti]] is the production shape; this is
    * its building block and the spec baseline. */
  def knnJoinLsh(emb: DataFrame, k: Int, nPlanes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = hyperplaneBuckets(emb, nPlanes, idCol, vecCol)
      .withColumnRenamed("id", idCol).withColumnRenamed("bucket", "cell")
    knnJoinWithinCells(emb.join(cells, idCol), k, idCol, vecCol, "cell")
  }

  /** Multi-table LSH kNN JOIN (classic OR-amplification, Indyk–Motwani
    * lineage): L independent tables of b sign bits each — one fused
    * signature of L·b bits, table t keyed by its own b-bit slice — union
    * the within-bucket candidate pairs across tables, dedup, exact-score
    * once, top-k. Pair-level recall 1−(1−p^b)^L for per-plane agreement
    * p, tunable without touching the join shape.
    *
    * Scale: one signature kernel pass; explode ×L (rows, not vectors:
    * 16 bytes per (cell,id)); one shuffle on the (table, bucket) key whose
    * skew is bounded by 2^b · L buckets; candidate DEDUP before scoring so
    * a pair sharing several tables is scored once; two id-equi-joins to
    * re-attach vectors (shuffles candidates, not the corpus²). b grows
    * with log(corpus) to keep per-bucket occupancy flat; at the gate SF
    * the buckets are intentionally coarse (tiny corpus), which only
    * RAISES candidate counts — the recall contract is what's asserted. */
  def knnJoinLshMulti(emb: DataFrame, k: Int, bitsPerTable: Int,
      nTables: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(bitsPerTable * nTables <= 62, "signature must fit a long")
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val sig = hyperplaneBuckets(emb, bitsPerTable * nTables, idCol, vecCol)
    val nBuckets = 1L << bitsPerTable
    // table t's cell = t·2^b + bits [t·b, (t+1)·b) of the fused signature
    val tabbed = sig.select(col("id"), col("bucket"),
        explode(sequence(lit(0), lit(nTables - 1))).as("t"))
      .withColumn("cell",
        col("t") * nBuckets + expr(
          s"pmod(bucket div cast(pow(2d, t * $bitsPerTable) as bigint), $nBuckets)"))
      .select(col("cell"), col("id"))
    // candidate symmetry (round 17, guide §2.3/§3): a within-cell pair
    // surfaces in BOTH directions, so generate/dedup/score each UNORDERED
    // pair once (qid < nid — half the self-join output, half the distinct
    // shuffle, half the two vector-attach joins and cosine kernels) and
    // mirror the scored rows after. Exact: cosine is bit-commutative
    // (per-index products and the norm product are IEEE-commutative;
    // the kernel sums each side's norm independently), and (a,b) shares
    // a cell iff (b,a) does.
    val cand = tabbed.select(col("cell"), col("id").as("qid"))
      .join(tabbed.select(col("cell"), col("id").as("nid")), Seq("cell"))
      .filter(col("qid") < col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val half = cand
      .join(v.select(col("id").as("qid"), col("vec").as("qvec")), Seq("qid"))
      .join(v.select(col("id").as("nid"), col("vec").as("nvec")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 4).as("cos"))
    // in-stream mirror (NOT a self-union — union branches re-execute the
    // whole candidate chain; explode doubles rows in one pass)
    val scored = half.select(explode(array(
        struct(col("qid"), col("nid")),
        struct(col("nid").as("qid"), col("qid").as("nid")))).as("p"),
        col("cos"))
      .select(col("p.qid").as("qid"), col("p.nid").as("nid"), col("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Random-hyperplane LSH bucketing: sign bits of dot products with
    * `nPlanes` pseudo-random unit-free planes derived deterministically from
    * xxhash64(planeIdx, dimIdx) — no RNG state, reproducible on any cluster.
    * Near-dup candidates share a bucket; verify with exact cosine.
    * Fused native kernel ([[graft.functions.HyperplaneSignature]]);
    * [[hyperplaneBucketsHof]] is the formulation it must match. */
  def hyperplaneBuckets(emb: DataFrame, nPlanes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // guarded spread BEFORE the signature kernel: the per-row cost is
    // nPlanes × dims multiply-adds, and a single-row-group parquet scan
    // would run the whole corpus's signatures on one core (profiled in
    // s05: a 1.33 s single-task stage at sf0.1 — the only straggler in
    // the plan). No-op at real scale where the scan has many splits.
    graft.util.Spread(emb).select(col(idCol).as("id"),
      graft.functions.HyperplaneSignature.hyperplaneSig(
        col(vecCol).cast("array<double>"), nPlanes).as("bucket"))

  /** Higher-order-function formulation of [[hyperplaneBuckets]] — one
    * interpreted lambda pass per plane; test-oracle use. */
  private[graft] def hyperplaneBucketsHof(emb: DataFrame, nPlanes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // plane p component for dim i: map hash to [-1, 1)
    def planeComp(p: Int, i: Column): Column =
      (pmod(xxhash64(lit(p), i), lit(2000001L)).cast("double") / 1000000.0) - 1.0
    val sigBits = (0 until nPlanes).map { p =>
      val d = aggregate(zip_with(col("vec"),
        transform(sequence(lit(0), size(col("vec")) - 1), i => planeComp(p, i)),
        (x, w) => x * w), lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    v.select(col("id"), sigBits.as("bucket"))
  }
}
