package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.{Bucketing, PersistedIndex}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Vector math is `zip_with`/`aggregate` over the array in double
  * precision — strictly sequential left-to-right accumulation, so results
  * are bit-deterministic and independent of partitioning (and match a
  * DuckDB oracle computing the same expression).
  *
  * Two search paths:
  *  - brute-force top-k: broadcast the (small) query set against the full
  *    corpus — exact, O(|corpus|·|queries|·dim), the correctness baseline;
  *  - LSH-bucketed: deterministic random-hyperplane signatures restrict
  *    candidates to equal buckets — the 100 TB scale path (corpus-sized
  *    shuffle on bucket id instead of a cross join).
  */
object Similarity {

  def toDoubleVec(v: Column): Column = transform(v, _.cast("double"))

  /** The vector column widened ONLY when its element type needs it:
    * array<float|double> passes through untouched (the native
    * expressions read both directly — zero per-row cost); any other
    * numeric element type gets a codegen'd Cast to array<double>, so
    * public entry points keep the pre-native tolerance for e.g.
    * array<int> embeddings (ADVICE r12) without paying a
    * codegen-fallback `transform` on the already-typed hot path. */
  private def numVec(df: DataFrame, vecCol: String): Column = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, NumericType}
    scala.util.Try(df.schema(vecCol).dataType).toOption match {
      case Some(ArrayType(FloatType | DoubleType, _)) => col(vecCol)
      case Some(ArrayType(_: NumericType, _)) => col(vecCol).cast("array<double>")
      case _ => col(vecCol) // let the expression raise its typed error
    }
  }

  /** Widen a narrow scan to default parallelism before a CPU-heavy
    * vector stage — same rationale as the dedup-side twin: a 100 TB
    * corpus arrives in thousands of splits and this is a no-op, but a
    * corpus packed into one or two files would otherwise run every
    * pairwise dot product of the join on one or two cores. */
  private def widen(df: DataFrame): DataFrame = ScanStats.widen(df)

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact cosine top-k: for each row of `queries`, the k nearest rows of
    * `corpus` (ties broken by ascending corpus id — deterministic).
    * Norms are computed once per row before the join (not once per pair);
    * `dot/(na·nb)` is arithmetically identical to `cosine(a,b)`. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    val q = queries.select(col(idCol).as("qid"), numVec(queries, vecCol).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
    val c = widen(corpus.select(col(idCol).as("nid"), numVec(corpus, vecCol).as("nv")))
      .withColumn("nn", vec_norm(col("nv")))
    topKPerQuery(c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim")), k)
  }

  /** The per-query top-k tail every similarity search shares: rank each
    * query's (qid, nid, sim) candidates by sim descending, ties toward
    * the smaller nid, keep `k`, round sim to 6 dp. */
  private def topKPerQuery(sims: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Scalar-quantized (SQ8) cosine top-k — FAISS's
    * IndexScalarQuantizer(QT_8bit) (the OTHER production encoding next
    * to PQ: 4× compression of float32 at near-exact recall, no
    * codebook to train): per-dimension [min, max] over the corpus
    * define 256 uniform levels, every corpus vector quantizes to one
    * byte per dimension, and queries score EXACT cosine against the
    * reconstructed vectors (min + (code + 0.5)·Δ) — asymmetric
    * distance, the query side stays full-precision.
    *
    * Scale shape: the range table is ONE aggregate over the
    * coordinate explode (dim-bounded driver collect, same contract as
    * the PQ codebook); quantize∘reconstruct is one codegen'd
    * [[graft.functions.VecExpressions.vec_sq8_recon]] projection —
    * map-only, no shuffle, no ×dim row blow-up; the search tail is
    * [[bruteForceTopK]]'s broadcast shape (or compose the recon
    * column with the IVF cell restriction for a quantized-IVF tier).
    * Deterministic: ranges are exact min/max, the quantization
    * arithmetic is pinned floor/clamp — an external oracle re-derives
    * every reconstructed coordinate bit-for-bit. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int): DataFrame = {
    import graft.functions.VecExpressions.{vec_norm, vec_sq8_recon}
    require(dim > 0 && dim <= 4096, s"dim must be driver-bounded, got $dim")
    val (mins, deltas) = rangeArrays(sq8RangeRows(corpus, vecCol), dim)
    val c = widen(corpus.select(col(idCol).as("nid"),
        vec_sq8_recon(numVec(corpus, vecCol), mins, deltas).as("nv")))
      .withColumn("nn", vec_norm(col("nv")))
    sq8Search(c, queries, idCol, vecCol, k)
  }

  /** Per-dimension (i, lo, Δ) over the corpus — ONE aggregate over the
    * coordinate explode, dim-bounded driver collect (the PQ-codebook
    * contract). The SQ8 model artifact. */
  private def sq8RangeRows(corpus: DataFrame,
                           vecCol: String): Array[(Int, Double, Double)] =
    corpus.select(posexplode(toDoubleVec(col(vecCol))).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1),
        (r.getDouble(2) - r.getDouble(1)) / 256.0))
      .sortBy(_._1)

  private def rangeArrays(rows: Array[(Int, Double, Double)],
                          dim: Int): (Array[Double], Array[Double]) = {
    require(dim > 0 && dim <= 4096, s"dim must be driver-bounded, got $dim")
    val m = rows.map(t => t._1 -> t).toMap
    (Array.tabulate(dim)(i => m.get(i).map(_._2).getOrElse(0.0)),
      Array.tabulate(dim)(i => m.get(i).map(_._3).getOrElse(0.0)))
  }

  /** Exact-cosine tail over a reconstructed corpus side (nid, nv, nn)
    * — shared by [[sq8TopK]] and [[sq8TopKIndexed]]. */
  private def sq8Search(c: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    val q = queries.select(col(idCol).as("qid"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
    topKPerQuery(c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim")), k)
  }

  /** Persist an SQ8 index: ONE BYTE per coordinate — an id-bucketed
    * codes table (nid, code BINARY — dim bytes, 4× under float32,
    * parquet-measured in SCALING r13) plus the (i, lo, Δ) range
    * sidecar. The ranges are the model artifact (fixed across
    * appends, like the PQ codebook); [[sq8TopKIndexed]] decodes codes
    * straight to reconstructions — no raw-vector scan, results
    * bit-identical to [[sq8TopK]]. */
  def writeSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
                    table: String, path: String, dim: Int,
                    buckets: Int = 8): Unit = {
    import graft.functions.VecExpressions.vec_sq8_codes
    val spark = corpus.sparkSession
    import spark.implicits._
    PersistedIndex.build(spark, table, Some("ranges")) {
      val rows = sq8RangeRows(corpus, vecCol)
      // fail fast at BUILD time if the corpus disagrees with `dim`
      // (ADVICE r13: vectors longer than dim used to write a sidecar
      // with > dim range rows, and every later sq8TopKIndexed/append
      // then failed its rows.length == dim check against an index the
      // build had declared valid — the build and query paths must agree
      // on dimensionality at the moment the artifact is written)
      require(rows.length == dim,
        s"corpus has coordinates at ${rows.length} positions but the " +
          s"index is declared dim=$dim — writeSq8Index refuses to " +
          "persist a sidecar its own query path would reject")
      val (mins, deltas) = rangeArrays(rows, dim)
      PersistedIndex.writeSidecar(rows.toSeq.toDF("i", "lo", "delta"),
        table, path, "ranges")
      Bucketing.writeBucketed(
        widen(corpus.select(col(idCol).as("nid"),
          vec_sq8_codes(numVec(corpus, vecCol), mins, deltas).as("code"))),
        table, path, Seq("nid"), buckets)
    }
  }

  /** The persisted `_ranges` model of an SQ8 index (generation-checked
    * against the codes), decoded to per-dimension (mins, deltas). */
  private def storedRanges(spark: SparkSession, table: String,
                           dim: Int): (Array[Double], Array[Double]) = {
    val rows = PersistedIndex.readModel(spark, table, "ranges")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    require(rows.length == dim,
      s"index $table stores ${rows.length} dimensions, got dim=$dim")
    rangeArrays(rows, dim)
  }

  /** Append a new vector batch to a persisted SQ8 index: the batch
    * encodes against the EXISTING ranges (out-of-range coordinates
    * clamp to the edge levels — the FAISS add() posture; range drift
    * is handled by periodic rebuild, not per-batch retraining). */
  def appendSq8Index(spark: SparkSession, newVectors: DataFrame,
                     idCol: String, vecCol: String, table: String,
                     dim: Int, buckets: Int = 8): Unit = {
    import graft.functions.VecExpressions.vec_sq8_codes
    val (mins, deltas) = storedRanges(spark, table, dim)
    Bucketing.appendBucketed(
      newVectors.select(col(idCol).as("nid"),
        vec_sq8_codes(numVec(newVectors, vecCol), mins, deltas).as("code")),
      table, Seq("nid"), buckets)
    spark.catalog.refreshTable(table)
  }

  /** Retrain a persisted SQ8 index's quantization ranges from the
    * raw-vector store and re-encode every code — the SQ8 drift repair
    * (SQ8 has no coarse cells, so its drift mode is RANGE drift:
    * [[appendSq8Index]] clamps out-of-range coordinates to the edge
    * levels, and a corpus whose coordinate ranges move degrades
    * reconstruction until the ranges retrain). Completes the
    * maintenance family: raw IVF and the two code shapes rebalance
    * cells ([[rebalanceIvfIndex]]/[[rebalanceIvfadcIndex]]/
    * [[rebalanceIvfadcResidualIndex]]), SQ8 retrains ranges — all
    * through the same stamped staged two-swap
    * ([[graft.engine.PersistedIndex.retrain]]): the `_ranges` sidecar
    * swaps first, the codes table commits with the same stamp; a crash
    * between the swaps fails LOUD at the next query/append. Pending
    * tombstones are excluded from the retrain and applied physically.
    * End state ≡ a fresh [[writeSq8Index]] over the union (spec-
    * pinned: ranges AND codes). */
  def retrainSq8Index(spark: SparkSession, table: String, raw: DataFrame,
                      idCol: String, vecCol: String, dim: Int): Unit = {
    import graft.functions.VecExpressions.vec_sq8_codes
    import spark.implicits._
    PersistedIndex.retrain(spark, table, "ranges",
        raw.select(col(idCol).as("nid"), col(vecCol).as("rv0"))) { clean =>
      val rows = sq8RangeRows(clean, "rv0")
      require(rows.length == dim,
        s"raw store has coordinates at ${rows.length} positions but the " +
          s"index is declared dim=$dim")
      val (mins, deltas) = rangeArrays(rows, dim)
      (rows.toSeq.toDF("i", "lo", "delta"),
        _ => clean.select(col("nid"),
          vec_sq8_codes(numVec(clean, "rv0"), mins, deltas).as("code")))
    }
  }

  /** Query a persisted SQ8 index: decode the byte codes to
    * reconstructions (one codegen'd `vec_sq8_decode` map pass over
    * the id-bucketed codes table — no raw-vector scan) and run the
    * exact-cosine tail. Bit-identical to [[sq8TopK]] with the same
    * build corpus. */
  def sq8TopKIndexed(spark: SparkSession, table: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     dim: Int, k: Int, pred: Column = lit(true)): DataFrame = {
    import graft.functions.VecExpressions.{vec_norm, vec_sq8_decode}
    val (mins, deltas) = storedRanges(spark, table, dim)
    // `pred` (filtered search) lands on the byte-code scan BEFORE the
    // decode map pass, so a selective slice also skips its decodes
    val c = PersistedIndex.withoutDeleted(spark, table,
        Bucketing.readBucketed(spark, table).filter(pred))
      .select(col("nid"), vec_sq8_decode(col("code"), mins, deltas).as("nv"))
      .withColumn("nn", vec_norm(col("nv")))
    sq8Search(c, queries, idCol, vecCol, k)
  }

  /** All corpus pairs with cosine above `threshold` (embedding-space
    * near-duplicate detection; id_a < id_b). Per-row norms precomputed. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    val a = widen(corpus.select(col(idCol).as("id_a"), numVec(corpus, vecCol).as("va")))
      .withColumn("na", vec_norm(col("va")))
    val b = corpus.select(col(idCol).as("id_b"), numVec(corpus, vecCol).as("vb"))
      .withColumn("nb", vec_norm(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", vec_dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic ±1 hyperplanes via SplitMix64 on (plane, dim) — no RNG
    * state, reproducible across runs/cluster sizes (and re-derivable by an
    * external oracle, which is why this is public). */
  def hyperplane(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map { k =>
      var z = (plane.toLong << 32 | k.toLong) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if (z >= 0) 1.0 else -1.0
    }

  /** Random-hyperplane LSH bucket id (`nbits`-bit signature). `band`
    * selects an independent plane family — band b uses planes
    * `b*nbits … b*nbits+nbits-1` — so multiple bands give independent
    * bucketings (the recall knob, same trick as MinHash banding).
    *
    * Plane dots are the codegen'd [[graft.functions.VecExpressions
    * .vec_dot]] (mixed float×double), NOT the `aggregate`/`transform`
    * HOF pair: higher-order functions evaluate interpreted with a boxed
    * lambda call per element, and this expression runs nbits× per row —
    * measured 59 CPU-s on d06's 2 000-vector corpus for the HOF form
    * (the per-plane `transform` cast alone re-boxed the vector 8×). */
  def lshBucket(vec: Column, dim: Int, nbits: Int = 12, band: Int = 0): Column = {
    import graft.functions.VecExpressions.vec_dot
    (0 until nbits).map { j =>
      val plane = typedLit(hyperplane(band * nbits + j, dim))
      when(vec_dot(vec, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Bucketed embedding near-dup pair enumeration — the 100 TB path next
    * to the exact [[nearDupPairs]] baseline (an all-pairs theta join that
    * is correct-by-construction but quadratic). Candidates are pairs that
    * collide in ≥1 of `bands` independent `nbits`-bit random-hyperplane
    * signatures (shuffle on (band, bucket) — linear in corpus size ×
    * bands); each candidate is then verified with the exact double-
    * precision cosine. Semantics are fully deterministic (SplitMix64
    * planes), so an external oracle can replicate them bit-for-bit.
    *
    * Recall < 1 by construction: a pair above `threshold` that collides
    * in no band is missed. With cos θ = t the per-band collision
    * probability is (1 - θ/π)^nbits, so recall = 1-(1-(1-θ/π)^nbits)^bands
    * — tune `bands` up / `nbits` down for weak thresholds. Precision is 1
    * (exact verification). */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      dim: Int, threshold: Double,
                      nbits: Int = 8, bands: Int = 4): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    // band buckets hoisted into a projection BELOW the explode:
    // GenerateExec evaluates generator expressions interpreted (see
    // TextOps.shinglesOfWords), so inlining the bucket array into
    // posexplode would run all bands×nbits plane dots outside codegen —
    // and twice, once per self-join side
    val buckets = widen(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
      .select(col("id"), col("v"),
        array((0 until bands).map(b =>
          lshBucket(col("v"), dim, nbits, b)): _*).as("bks"),
        vec_norm(col("v")).as("nrm"))
      .select(col("id"), col("v"), col("nrm"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("b.v").as("vb"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .dropDuplicates("id_a", "id_b")
    cand
      .withColumn("sim", vec_dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic IVF coarse centroids: the `nlist` corpus vectors with
    * the smallest `md5("ivf" + id)` — a reproducible pseudo-random sample
    * (the classic k-means init; production IVF would Lloyd-refine these,
    * which changes recall but not the operator shape). Deterministic so an
    * external oracle can re-derive the exact cell structure. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int): DataFrame =
    corpus.select(col(idCol).as("cid"), numVec(corpus, vecCol).as("cv"))
      .withColumn("r", md5(concat(lit("ivf"), col("cid").cast("string"))))
      .orderBy(col("r"), col("cid")).limit(nlist)
      .drop("r")

  /** Per-side similarity to every broadcast centroid — the probe
    * primitive of the IVF family (query sets; small by contract). */
  private def cellSims(side: DataFrame, id: String, vec: String,
                       cents: DataFrame): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    side.select(col(id).as("id"), numVec(side, vec).as("v"))
      .withColumn("n", vec_norm(col("v")))
      .crossJoin(cents)
      .withColumn("csim", vec_dot(col("v"), col("cv")) / (col("n") * col("cn")))
      .select(col("id"), col("v"), col("n"), col("cid"), col("csim"))
  }

  /** Collect the (driver-bounded: nlist rows) centroid table and
    * pre-compute each centroid's norm with the same left-to-right
    * double accumulation as `vec_norm` — bit-identical, so the literal
    * assignment below matches the crossJoin formulation exactly. */
  private def collectCentroids(cents: DataFrame): Array[(Long, Seq[Double], Double)] =
    cents.select(col("cid").cast("long"),
        col("cv").cast("array<double>")).collect()
      .map { r =>
        val cv = r.getSeq[Double](1)
        (r.getLong(0), cv, math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x)))
      }

  /** One cell per corpus vector, as a PURE MAP-SIDE argmax: the
    * centroid table is driver-bounded (nlist rows — the same bounded-
    * collect contract as TripleSinks' prefix scan) and rides in ONE
    * codegen'd [[graft.functions.VecExpressions.vec_best_cell]]
    * expression — (csim DESC, cid ASC) tie order, NO shuffle, no
    * ×nlist row blow-up, and constant generated-code size at any
    * nlist (the per-centroid-literal `greatest` form this replaces
    * overflowed the JVM's 64 KB method limit past ~100 centroids and
    * silently dropped the stage to interpreted evaluation — caught by
    * the round-12 nlist=256 tuning run). At corpus scale assignment
    * streams: scan → project → done. Returns (nid, cell, csim, nv,
    * nn). */
  private def cellAssignment(corpus: DataFrame, idCol: String, vecCol: String,
                             cents: DataFrame): DataFrame = {
    import graft.functions.VecExpressions.{vec_best_cell, vec_norm}
    val local = collectCentroids(cents)
    require(local.nonEmpty && local.length <= 4096,
      s"centroid table must be driver-bounded, got ${local.length}")
    corpus.select(col(idCol).as("nid"), numVec(corpus, vecCol).as("v"))
      .withColumn("b", vec_best_cell(col("v"),
        local.map(_._1), local.map(_._2.toArray), local.map(_._3)))
      .select(col("nid"), col("b.cell").as("cell"), col("b.csim").as("csim"),
        col("v").as("nv"), vec_norm(col("v")).as("nn"))
  }

  /** nprobe nearest cells per query (query set is small by construction
    * — same contract as bruteForceTopK's broadcast side). */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                         cents: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy("id").orderBy(col("csim").desc, col("cid").asc)
    cellSims(queries, idCol, vecCol, cents)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("id").as("qid"), col("v").as("qv"), col("n").as("qn"),
        col("cid").as("cell"))
  }

  /** The probed cell ids as a DRIVER-LOCAL set (bounded by
    * |queries|·nprobe ≤ nlist ≤ 4096 — the [[cellAssignment]] centroid
    * contract), pushed as an `isin` LITERAL filter onto the cell-keyed
    * corpus relation. A broadcast hash join on `cell` only drops rows
    * AFTER the scan; a literal In on the bucket column reaches
    * FileSourceStrategy's bucket pruning ([[graft.engine.Bucketing]]),
    * so a query batch against a persisted index reads ONLY its probed
    * cells' bucket files — the ~nlist/nprobe scan-I/O factor that
    * separates an index from a table at production nlist. One bounded
    * driver action per query batch, the same shape as the probe
    * ranking itself. */
  private def pruneToProbedCells(cellKeyed: DataFrame,
                                 cells: Array[Any]): DataFrame = {
    require(cells.length <= 4096,
      s"probed cell set must be driver-bounded, got ${cells.length}")
    if (cells.isEmpty) cellKeyed.filter(lit(false))
    else cellKeyed.filter(col("cell").isin(cells.toIndexedSeq: _*))
  }

  /** The probe relation collected to the driver: the rebuilt LOCAL
    * relation (broadcast-join side) plus the distinct probed-cell set
    * (the [[pruneToProbedCells]] isin literals), both from ONE
    * execution and ZERO further Spark jobs — the previous shape ran a
    * separate distinct().collect() job per query batch on top of the
    * localizing collect. */
  private[graft] final case class LocalProbes(df: DataFrame, cells: Array[Any])

  /** Execute the (query-bounded) probe relation ONCE and rebuild it as
    * a LOCAL relation: the probed-cell isin set and the broadcast join
    * side then share one execution, instead of the probe chain (which
    * for in-session paths includes the centroid-derivation scan)
    * running twice — once at collect, once at action time.
    *
    * Driver-heap gate (the bpeTrain estBytes discipline, ADVICE r12):
    * schemas carrying array columns (each probe row then holds a
    * dim-length query vector) get a 2^16 row bound instead of 2^20,
    * and the collected batch must fit an estimated `maxBytes`
    * (measured per-row widths, array elements at 8 B) — a row-only
    * bound admitted ~0.5 GB of driver vectors at dim=64. */
  private[graft] def localizeProbes(
      probes: DataFrame, maxBytes: Long = 256L << 20): LocalProbes = {
    import org.apache.spark.sql.types.ArrayType
    val spark = probes.sparkSession
    val schema = probes.schema
    val hasArrays = schema.fields.exists(_.dataType.isInstanceOf[ArrayType])
    val maxRows = if (hasArrays) 1 << 16 else 1 << 20
    val rows = probes.collect()
    require(rows.length <= maxRows,
      s"probe relation must be query-bounded, got ${rows.length} rows " +
        s"(max $maxRows for a schema ${if (hasArrays) "with" else "without"} " +
        "array columns)")
    var estBytes = 0L
    val n = schema.length
    var ri = 0
    while (ri < rows.length) {
      val r = rows(ri)
      var b = 24L + 16L * n
      var i = 0
      while (i < n) {
        r.get(i) match {
          case s: scala.collection.Seq[_] => b += 24L + 8L * s.length
          case s: String => b += 40L + 2L * s.length
          case _ => ()
        }
        i += 1
      }
      estBytes += b
      ri += 1
    }
    require(estBytes <= maxBytes,
      s"probe relation must be driver-bounded: estimated $estBytes bytes " +
        s"(${rows.length} rows) exceeds the $maxBytes-byte gate")
    val cellIdx = schema.fieldIndex("cell")
    val cells = rows.map(_.get(cellIdx)).distinct
    LocalProbes(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      cells)
  }

  /** Exact-cosine search of the probed cells + final top-k window —
    * the shared tail of [[ivfTopK]] and [[ivfTopKIndexed]]. */
  private def probeSearch(assigned: DataFrame, probes0: DataFrame,
                          k: Int): DataFrame = {
    import graft.functions.VecExpressions.vec_dot
    val probes = localizeProbes(probes0)
    topKPerQuery(pruneToProbedCells(assigned, probes.cells)
      .join(broadcast(probes.df), "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim")), k)
  }

  /** IVF (inverted-file) ANN: assign every corpus vector to its nearest
    * of `nlist` coarse centroids (one cell each), then search each query
    * only in its `nprobe` nearest cells with exact cosine — the other
    * classic ANN scale path next to [[lshTopK]]. Per-query work drops from
    * |corpus| to ~(nprobe/nlist)·|corpus|; recall < 1 because a true
    * neighbor assigned to an unprobed cell is missed.
    *
    * Scale shape: cell assignment is a pure map-side literal argmax
    * (see [[cellAssignment]] — no shuffle, no ×nlist blow-up); the
    * probe join shuffles the corpus once on cell id (or not at all
    * against a persisted index, [[ivfTopKIndexed]]).
    * Ties (equal cosine to two centroids) break toward the smaller
    * centroid id on both engine and oracle.
    *
    * `refineIters` > 0 Lloyd-refines the coarse centroids with
    * [[kmeansRefine]] before assignment — the trained coarse quantizer
    * FAISS pairs with its trained PQ; 0 keeps the md5-sampled seed;
    * `balanceFactor` > 0 splits oversized cells
    * ([[balancedIvfCentroids]]). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16,
              nprobe: Int = 4, refineIters: Int = 0,
              balanceFactor: Double = 0.0): DataFrame = {
    val cents = normed(coarseCentroids(corpus, idCol, vecCol, nlist,
      balanceFactor, refineIters))
    probeSearch(cellAssignment(corpus, idCol, vecCol, cents),
      probeCells(queries, idCol, vecCol, cents, nprobe), k)
  }

  /** The coarse quantizer a build or in-session search trains:
    * [[balancedIvfCentroids]] when `balanceFactor` > 0, else the
    * md5-sampled seed ([[ivfCentroidTable]], Lloyd-refined for
    * `refineIters` rounds). (cid, cv). */
  private def coarseCentroids(corpus: DataFrame, idCol: String,
                              vecCol: String, nlist: Int,
                              balanceFactor: Double,
                              refineIters: Int = 0): DataFrame =
    if (balanceFactor > 0)
      balancedIvfCentroids(corpus, idCol, vecCol, nlist, balanceFactor,
        refineIters = refineIters)
    else ivfCentroidTable(corpus, idCol, vecCol, nlist, refineIters)

  /** A (cid, cv) centroid table with its norms `cn`, broadcast — the
    * form every assignment and probe consumes. */
  private def normed(cents: DataFrame): DataFrame = {
    import graft.functions.VecExpressions.vec_norm
    broadcast(cents.withColumn("cn", vec_norm(col("cv"))))
  }

  /** A persisted index's `_centroids` model (generation-checked against
    * its rows), [[normed]]. */
  private def storedCentroids(spark: SparkSession, table: String): DataFrame =
    normed(PersistedIndex.readModel(spark, table, "centroids"))

  /** Persist a (cid, cv) centroid table as the index's `_centroids`
    * sidecar, coordinates widened to double. */
  private def writeCentroids(cents: DataFrame, table: String,
                             path: String): Unit =
    PersistedIndex.writeSidecar(
      cents.select(col("cid"), toDoubleVec(col("cv")).as("cv")),
      table, path, "centroids")

  /** The coarse centroid table: the md5-sampled seed, Lloyd-refined
    * for `refineIters` rounds when requested. (cid, cv). */
  private def ivfCentroidTable(corpus: DataFrame, idCol: String,
                               vecCol: String, nlist: Int,
                               refineIters: Int): DataFrame =
    if (refineIters > 0)
      kmeansRefine(corpus, idCol, vecCol, nlist, refineIters)
        .select(col("cell").as("cid"), col("centroid").as("cv"))
    else ivfCentroids(corpus, idCol, vecCol, nlist)

  /** Persist the IVF index: the cell assignment of every corpus vector
    * as a CELL-BUCKETED table (via [[graft.engine.Bucketing]]) plus the
    * centroid table as a `<table>_centroids` sidecar. The repeated-query
    * posture at corpus scale: a production ANN service pays the
    * assignment pass ONCE at index-build time; every subsequent query
    * batch ([[ivfTopKIndexed]]) probes its cells with no assignment
    * pass and NO shuffle of the corpus — and because the probed cell
    * set is pushed as a literal In filter ([[pruneToProbedCells]]),
    * the scan BUCKET-PRUNES to exactly the probed cells' bucket files
    * (IndexPlanSpec pins `SelectedBucketsCount` in the executed plan):
    * per-batch scan I/O is ~nprobe/nlist of the index, not the whole
    * table. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    table: String, path: String, nlist: Int = 16,
                    buckets: Int = 8, refineIters: Int = 0,
                    balanceFactor: Double = 0.0): Unit =
    PersistedIndex.build(corpus.sparkSession, table, Some("centroids")) {
      val cents0 = coarseCentroids(corpus, idCol, vecCol, nlist,
        balanceFactor, refineIters)
      Bucketing.writeBucketed(
        cellAssignment(corpus, idCol, vecCol, normed(cents0)).drop("csim"),
        table, path, Seq("cell"), buckets)
      writeCentroids(cents0, table, path)
    }

  /** Append a new vector batch to a persisted raw-vector IVF index —
    * FAISS add() on the coarse quantizer: the batch assigns to the
    * EXISTING centroids (map-side literal argmax, no recluster) and
    * its (nid, cell, nv, nn) rows insert into the cell-bucketed table.
    * Completes the append family (PQ/IVFADC/residual/SQ8 each have
    * one). Fixed centroids mean a drifting corpus re-skews cells over
    * time — [[cellOccupancy]] is the readout, [[rebalanceIvfIndex]]
    * the repair. */
  def appendIvfIndex(spark: SparkSession, newVectors: DataFrame,
                     idCol: String, vecCol: String, table: String,
                     buckets: Int = 8): Unit = {
    Bucketing.appendBucketed(cellAssignment(newVectors, idCol, vecCol,
        storedCentroids(spark, table)).drop("csim"),
      table, Seq("cell"), buckets)
    spark.catalog.refreshTable(table)
  }

  /** Query a persisted IVF index: identical results to [[ivfTopK]] with
    * the same (nlist, nprobe, k) — the assignment is read back, not
    * recomputed, and the stored vectors/norms are the same floats, so
    * the cosine ranking is bit-identical. */
  def ivfTopKIndexed(spark: SparkSession, table: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nprobe: Int = 4, pred: Column = lit(true)): DataFrame = {
    val cents = storedCentroids(spark, table)
    // `pred` is the FILTERED-search predicate every production vector
    // service exposes (restrict candidates to an attribute slice —
    // here over the index table's columns, e.g. nid): it lands on the
    // index scan NEXT TO the probed-cell In filter, so bucket pruning
    // and the attribute pushdown compose in one FileSourceScan
    probeSearch(
      PersistedIndex.withoutDeleted(spark, table,
        Bucketing.readBucketed(spark, table).filter(pred)),
      probeCells(queries, idCol, vecCol, cents, nprobe), k)
  }

  /** IVFADC — the composed production ANN index (Jégou et al. 2011,
    * the architecture FAISS ships as IndexIVFPQ): IVF coarse cells
    * restrict WHICH codes a query scans, PQ ADC scores them without
    * touching raw vectors. Per-query cost drops to the probed cells'
    * code rows (m small ints per vector) — the serving shape of a
    * billion-vector tier, where neither the raw vectors nor the full
    * code table are scanned per query. The codebook is global
    * (non-residual PQ — FAISS `by_residual=false`), so ADC scores are
    * exactly [[pqTopK]]'s restricted to probed cells: recall is
    * bounded by the IVF probe (grade with [[recallAtK]]), precision by
    * PQ (refine with [[pqRerankTopK]]'s device when needed).
    *
    * Scale shape: cell assignment is the map-side literal argmax of
    * [[ivfTopK]]; codes come from one (id, sub)-keyed aggregate; the
    * query side (probes + ADC tables) broadcasts; one (qid, nid)
    * aggregate scores. Nothing corpus-sized shuffles more than once. */
  def ivfadcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, dim: Int, k: Int, nlist: Int = 16,
                 nprobe: Int = 4, m: Int = 4, ks: Int = 16): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val cents = normed(ivfCentroids(corpus, idCol, vecCol, nlist))
    val codebook = pqCodebook(corpus, idCol, vecCol, dim, m, ks)
    // cell rides the encode projection ([[withCellCol]] + carry) — the
    // former pqEncode ⋈ cellAssignment joined two map-side projections
    // of the SAME corpus rows back together (a corpus-sized sort-merge
    // join for an attach — guide §2.4)
    val encoded = pqEncode(withCellCol(corpus, idCol, vecCol, cents),
      idCol, vecCol, codebook, dim, m, carry = Seq("cell"))
    ivfadcSearch(encoded, queries, idCol, vecCol, codebook, cents,
      dim, m, k, nprobe)
  }

  /** Persist an IVFADC index: one CELL-BUCKETED table of
    * (nid, cell, nsub, code, codeN2) — the cell assignment and the PQ
    * codes of every corpus vector, co-located by cell; at query time
    * the probed cell set is pushed as a literal In filter
    * ([[pruneToProbedCells]]) so the scan bucket-prunes to exactly the
    * probed cells' bucket files (IndexPlanSpec-pinned) — plus the
    * codebook and centroid sidecars. This is the table a billion-vector
    * serving tier actually materializes: m small ints per vector, no
    * raw vectors, built ONCE. Query with [[ivfadcTopKIndexed]]. */
  def writeIvfadcIndex(corpus: DataFrame, idCol: String, vecCol: String,
                       table: String, path: String, dim: Int,
                       nlist: Int = 16, m: Int = 4, ks: Int = 16,
                       buckets: Int = 8, trainIters: Int = 0,
                       balanceFactor: Double = 0.0): Unit = {
    require(dim % m == 0, "m must divide dim")
    PersistedIndex.build(corpus.sparkSession, table, Some("centroids")) {
      val cents0 = coarseCentroids(corpus, idCol, vecCol, nlist,
        balanceFactor)
      val codebook = codebookFor(corpus, idCol, vecCol, dim, m, ks,
        trainIters)
      PersistedIndex.writeSidecar(codebook, table, path, "codebook")
      writeCentroids(cents0, table, path)
      Bucketing.writeBucketed(
        // cell rides the encode projection — no corpus-sized join back
        pqEncode(withCellCol(corpus, idCol, vecCol, normed(cents0)),
          idCol, vecCol, codebook, dim, m, carry = Seq("cell")),
        table, path, Seq("cell"), buckets)
    }
  }

  /** Append a new vector batch to a persisted IVFADC index — the
    * [[appendPqIndex]] posture on the composed index: the batch
    * assigns to the EXISTING centroids (map-side literal argmax, no
    * recluster) and encodes against the EXISTING codebook, then its
    * (cell, code) rows insert into the bucketed table. Append cost is
    * |batch|; the index's cells and codebook are model artifacts that
    * only a periodic [[writeIvfadcIndex]] rebuild retrains. */
  def appendIvfadcIndex(spark: SparkSession, newVectors: DataFrame,
                        idCol: String, vecCol: String, table: String,
                        dim: Int, m: Int = 4, buckets: Int = 8): Unit = {
    require(dim % m == 0, "m must divide dim")
    val cents = storedCentroids(spark, table)
    Bucketing.appendBucketed(
      // cell rides the encode projection — no batch-sized join back
      pqEncode(withCellCol(newVectors, idCol, vecCol, cents),
        idCol, vecCol, storedCodebook(spark, table), dim, m,
        carry = Seq("cell")),
      table, Seq("cell"), buckets)
    spark.catalog.refreshTable(table)
  }

  /** Query a persisted IVFADC index: identical results to
    * [[ivfadcTopK]] with the same (dim, nlist, nprobe, m, ks) — cells,
    * codes, codebook and centroids are read back, not recomputed, so
    * at query time the plan touches ONLY the probed cells' code rows:
    * no assignment pass, no encode pass, no raw-vector scan. */
  def ivfadcTopKIndexed(spark: SparkSession, table: String,
                        queries: DataFrame, idCol: String, vecCol: String,
                        dim: Int, k: Int, nprobe: Int = 4,
                        m: Int = 4, pred: Column = lit(true)): DataFrame = {
    val cents = storedCentroids(spark, table)
    val codebook = storedCodebook(spark, table)
    // `pred` — filtered vector search on the SERVING shape (r13
    // verdict #2: the billion-vector tier serves from the code tables,
    // so the attribute slice must land here, not only on the 4×-larger
    // raw index): it pushes onto the codes scan next to the
    // probed-cell In, composing with bucket pruning in one
    // FileSourceScan (IndexPlanSpec pins both markers coexist)
    val encoded = PersistedIndex.withoutDeleted(spark, table,
      Bucketing.readBucketed(spark, table).filter(pred))
    ivfadcSearch(encoded, queries, idCol, vecCol, codebook, cents,
      dim, m, k, nprobe)
  }

  /** The shared IVFADC query tail ([[ivfadcTopK]] in-session,
    * [[ivfadcTopKIndexed]] over the persisted table): probe cells,
    * broadcast the ADC tables, score the probed cells' codes, top-k. */
  private def ivfadcSearch(encodedCells: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String,
                           codebook: DataFrame, cents: DataFrame,
                           dim: Int, m: Int, k: Int,
                           nprobe: Int): DataFrame = {
    val probes = localizeProbes(
      probeCells(queries, idCol, vecCol, cents, nprobe)
        .select(col("qid"), col("cell")))
    topKPerQuery(pruneToProbedCells(encodedCells, probes.cells)
      .join(broadcast(probes.df), "cell")
      .join(adcTables(queries, idCol, vecCol, codebook, dim, m),
        Seq("qid", "nsub", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid")
      .agg(adcSim.as("sim")), k)
  }

  /** Residual relation for by-residual PQ: (nid, cell, rv) with
    * rv = v − centroid(cell) in double precision (the codegen'd
    * [[graft.functions.VecExpressions.vec_sub]], not a HOF). */
  private[graft] def residualVectors(corpus: DataFrame, idCol: String,
                                     vecCol: String, cents: DataFrame): DataFrame = {
    import graft.functions.VecExpressions.vec_sub
    cellAssignment(corpus, idCol, vecCol, cents)
      .select(col("nid"), col("cell"), col("nv"))
      .join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
      .select(col("nid"), col("cell"), vec_sub(col("nv"), col("cv")).as("rv"))
  }

  /** Per-cell per-subspace centroid slices: (cell, nsub, csub) —
    * broadcast dimension for the codeCdot cross terms. */
  private def centroidSlices(cents: DataFrame, dim: Int, m: Int): DataFrame = {
    val sub = dim / m
    cents.select(col("cid").as("cell"),
      posexplode(array((0 until m).map(i =>
        slice(toDoubleVec(col("cv")), i * sub + 1, sub)): _*))
        .as(Seq("nsub", "csub")))
  }

  /** Residual PQ codes with the reconstruction cross term:
    * (nid, cell, nsub, code, codeN2, codeCdot) where codeCdot =
    * dot(centroid_sub(cell), codebook(nsub, code)) — precomputed at
    * build time (FAISS's IVFPQ precomputed-tables device, stored per
    * code row so query-time scoring is one aggregate). */
  private[graft] def residualCodes(resid: DataFrame, codebook: DataFrame,
                                   cents: DataFrame, dim: Int, m: Int): DataFrame = {
    import graft.functions.VecExpressions.vec_dot
    // resid already carries its cell — ride it through the encode
    // instead of joining the (corpus-sized) residual relation to itself
    pqEncode(resid, "nid", "rv", codebook, dim, m, carry = Seq("cell"))
      .join(broadcast(centroidSlices(cents, dim, m)), Seq("cell", "nsub"))
      .join(broadcast(codebook.select(col("sub").as("nsub"),
        col("cid").as("code"), col("cv").as("cbv"))), Seq("nsub", "code"))
      .withColumn("codeCdot", vec_dot(col("csub"), col("cbv")))
      .select(col("nid"), col("cell"), col("nsub"), col("code"),
        col("codeN2"), col("codeCdot"))
  }

  /** The residual ADC score aggregate — exact reconstruction cosine
    * cos(q, x̂) with x̂ = centroid(cell) + r̂:
    * dot(q, x̂)   = qcdot + Σ pdot
    * ‖x̂‖²        = cn2 + 2·Σ codeCdot + Σ codeN2
    * Sums accumulate as DECIMAL(30,12) (the [[adcSim]] order-
    * independence contract); qcdot/cn2 are per-(query, cell) constants
    * so max() reads them. Because this IS cosine(q, x̂), |sim| ≤ 1 —
    * an invariant the non-residual global-codebook score does not
    * have, and one the spec asserts. */
  private def residualAdcSim: Column = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    (max(col("qcdot")) + sum(col("pdot").cast(dec)).cast("double")) /
      (max(col("qn")) * sqrt(max(col("cn2")) +
        lit(2.0) * sum(col("codeCdot").cast(dec)).cast("double") +
        sum(col("codeN2").cast(dec)).cast("double")))
  }

  /** The shared residual-IVFADC query tail: probe cells (carrying the
    * query⋅centroid and ‖centroid‖² reconstruction terms), broadcast
    * the residual ADC tables, score the probed cells' codes (scan
    * bucket-pruned via [[pruneToProbedCells]]), top-k. */
  private def ivfadcResidualSearch(encodedCells: DataFrame,
                                   queries: DataFrame, idCol: String,
                                   vecCol: String, codebook: DataFrame,
                                   cents: DataFrame, dim: Int, m: Int,
                                   k: Int, nprobe: Int): DataFrame = {
    import graft.functions.VecExpressions.vec_dot
    val probes = localizeProbes(
      probeCells(queries, idCol, vecCol, cents, nprobe)
        .join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
        .select(col("qid"), col("cell"),
          vec_dot(col("qv"), col("cv")).as("qcdot"),
          vec_dot(col("cv"), col("cv")).as("cn2")))
    topKPerQuery(pruneToProbedCells(encodedCells, probes.cells)
      .join(broadcast(probes.df), "cell")
      .join(adcTables(queries, idCol, vecCol, codebook, dim, m),
        Seq("qid", "nsub", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid")
      .agg(residualAdcSim.as("sim")), k)
  }

  /** By-residual IVFADC — the encoding FAISS actually defaults to
    * (`by_residual=true`, Jégou et al. 2011 §IV): each vector's PQ
    * codes quantize its RESIDUAL v − centroid(cell) rather than v
    * itself. Residuals are small (the coarse quantizer explains most
    * of the vector), so the same m×ks code budget spends its precision
    * on the part that distinguishes neighbours within a cell — the
    * round-12 tuning tier measured non-residual recall\@10 stuck at
    * 0.16–0.25 across ks 16→256 and nprobe 8→32 on the 200 k corpus;
    * this is the knob that moves it. Scoring is the exact
    * reconstruction cosine cos(q, centroid + r̂) via one aggregate
    * over precomputed cross terms ([[residualCodes]]) — so |sim| ≤ 1
    * and sim → exact cosine as quantization error → 0. Fully
    * deterministic (md5-seeded centroids and codebook), oracle-checked
    * in s18/s19.
    *
    * This is the in-session composition convenience (the gate shape):
    * the residual chain re-derives per consumer here — the production
    * posture is [[writeIvfadcResidualIndex]] (which persists the
    * residual relation for the build) + [[ivfadcResidualTopKIndexed]]. */
  def ivfadcResidualTopK(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, dim: Int, k: Int,
                         nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
                         ks: Int = 16): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val cents = normed(ivfCentroids(corpus, idCol, vecCol, nlist))
    val resid = residualVectors(corpus, idCol, vecCol, cents)
    val codebook = pqCodebook(resid, "nid", "rv", dim, m, ks)
    ivfadcResidualSearch(residualCodes(resid, codebook, cents, dim, m),
      queries, idCol, vecCol, codebook, cents, dim, m, k, nprobe)
  }

  /** Persist a by-residual IVFADC index: the cell-bucketed residual
    * codes table (with the precomputed codeCdot cross terms) plus
    * codebook/centroid sidecars — same serving layout as
    * [[writeIvfadcIndex]] (bucket-pruned probed-cells-only scans),
    * better recall per code byte. Query with
    * [[ivfadcResidualTopKIndexed]]. */
  def writeIvfadcResidualIndex(corpus: DataFrame, idCol: String,
                               vecCol: String, table: String, path: String,
                               dim: Int, nlist: Int = 16, m: Int = 4,
                               ks: Int = 16, buckets: Int = 8,
                               trainIters: Int = 0,
                               balanceFactor: Double = 0.0): Unit = {
    require(dim % m == 0, "m must divide dim")
    PersistedIndex.build(corpus.sparkSession, table, Some("centroids")) {
      val cents0 = coarseCentroids(corpus, idCol, vecCol, nlist,
        balanceFactor)
      val cents = normed(cents0)
      // resid feeds THREE consumers (codebook sample/training, the
      // encode pass, the nid→cell join) — persist it for the build or
      // each one replays the assignment + subtraction over the corpus
      val resid = residualVectors(corpus, idCol, vecCol, cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val codebook = codebookFor(resid, "nid", "rv", dim, m, ks,
          trainIters)
        PersistedIndex.writeSidecar(codebook, table, path, "codebook")
        writeCentroids(cents0, table, path)
        Bucketing.writeBucketed(
          residualCodes(resid, codebook, cents, dim, m),
          table, path, Seq("cell"), buckets)
      } finally { resid.unpersist(false); () }
    }
  }

  /** Append a new batch to a persisted by-residual index: assign to
    * the EXISTING centroids, encode residuals against the EXISTING
    * codebook, insert into the bucketed table — the
    * [[appendIvfadcIndex]] posture with residual semantics. */
  def appendIvfadcResidualIndex(spark: SparkSession, newVectors: DataFrame,
                                idCol: String, vecCol: String,
                                table: String, dim: Int, m: Int = 4,
                                buckets: Int = 8): Unit = {
    require(dim % m == 0, "m must divide dim")
    val cents = storedCentroids(spark, table)
    val codebook = storedCodebook(spark, table)
    // two consumers of the batch's residual relation (encode + the
    // nid→cell join) — persist for the duration of the append
    val resid = residualVectors(newVectors, idCol, vecCol, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Bucketing.appendBucketed(
        residualCodes(resid, codebook, cents, dim, m),
        table, Seq("cell"), buckets)
      spark.catalog.refreshTable(table)
    } finally { resid.unpersist(false); () }
  }

  /** Query a persisted by-residual IVFADC index — bit-identical to
    * [[ivfadcResidualTopK]] at the same parameters; no assignment,
    * encode, or raw-vector pass, bucket-pruned probed-cell scan. */
  def ivfadcResidualTopKIndexed(spark: SparkSession, table: String,
                                queries: DataFrame, idCol: String,
                                vecCol: String, dim: Int, k: Int,
                                nprobe: Int = 4, m: Int = 4,
                                pred: Column = lit(true)): DataFrame = {
    val cents = storedCentroids(spark, table)
    ivfadcResidualSearch(
      PersistedIndex.withoutDeleted(spark, table,
        Bucketing.readBucketed(spark, table).filter(pred)),
      queries, idCol, vecCol, storedCodebook(spark, table), cents, dim, m,
      k, nprobe)
  }

  /** Lloyd refinement of the [[ivfCentroids]] seed: `iters` rounds of
    * assign-to-nearest (cosine, the same map-side literal argmax as
    * [[ivfTopK]] — no shuffle, no ×k relation) followed by the
    * per-cell coordinate mean. The classic k-means loop, kept fully
    * deterministic (seeded init, fixed iteration count, ties toward the
    * smaller cell id) so an external oracle can unroll the iterations
    * in SQL. Empty cells keep their previous centroid (the standard
    * guard). Returns (cell, centroid) with coordinates rounded to 6 —
    * rounding INSIDE each iteration pins the float-sum ambiguity of a
    * distributed mean before it can amplify through the next
    * assignment.
    *
    * Scale shape per round: centroids broadcast; one shuffle for the
    * per-(cell, dim) partial-aggregated means over the |corpus|×dim
    * value explode; the rebuilt centroid table is k rows. */
  def kmeansRefine(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 2): DataFrame = {
    val wide = widen(corpus)
    var cents = ivfCentroids(corpus, idCol, vecCol, k)
      .select(col("cid"),
        expr("transform(cast(cv as array<double>), x -> round(x, 6))").as("cv"))
    for (_ <- 1 to iters) {
      // map-side literal assignment (collects the k-row centroid table —
      // one bounded driver action per Lloyd round, which is the shape of
      // the algorithm anyway), then ONE shuffle for the per-(cell, dim)
      // partial-aggregated means
      val assigned = cellAssignment(wide, idCol, vecCol, cents)
      val means = assigned
        .select(col("cell"),
          posexplode(col("nv").cast("array<double>")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell").as("cid"),
          expr("transform(dm, e -> round(e.m, 6))").as("cv"))
      // empty cells keep their previous (already-rounded) centroid
      cents = cents.alias("p").join(broadcast(means.alias("m")),
          col("p.cid") === col("m.cid"), "left")
        .select(col("p.cid").as("cid"),
          coalesce(col("m.cv"), col("p.cv")).as("cv"))
    }
    cents.select(col("cid").as("cell"), col("cv").as("centroid"))
  }

  /** Cell-size-BALANCED coarse centroids: the [[ivfCentroids]] seed
    * (optionally Lloyd-refined first), then iterative SPLITTING of
    * oversized cells — the FAISS balancing move (IndexIVF's answer to
    * heavy-tailed corpora, where one hot cell = one bucket = one
    * straggler task at query time and an unprunable scan share).
    *
    * Each round: assign the corpus (map-side literal argmax), measure
    * cell occupancy (one nlist-row aggregate), and split every cell
    * holding more than `maxFactor` × (N / #cells) vectors with a
    * MEDIAN through-center cut: project members onto the tangential
    * direction of the cell's farthest member and cut at the exact
    * per-cell median projection (50/50 by construction); the two
    * side-means (6-dp, the [[kmeansRefine]] discipline) become new
    * centroids. Rounds repeat until no cell is oversized or
    * `maxRounds`; on a 132× Zipf tail (200 k vectors, nlist 256) the
    * cap is reached in 15 rounds — expect ~3× log₂(max/cap) rounds,
    * the overhead being member churn between a hot cluster's cells.
    * Fully deterministic (md5/farthest seeds, pinned ties, exact
    * median).
    *
    * Scale shape per round: one map-only assignment pass + one
    * nlist-row count; the split work (2-row-per-member broadcast join
    * + per-(cell, side, dim) partial-aggregated means) touches ONLY
    * oversized cells' members. The returned table is (cid, cv) —
    * drop-in for every IVF/IVFADC build path; cell count grows by the
    * number of splits, so probe budgets stay comparable when nprobe
    * scales with nlist. */
  def balancedIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                           nlist: Int, maxFactor: Double = 2.0,
                           maxRounds: Int = 16,
                           refineIters: Int = 0): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    require(maxFactor > 1.0, s"maxFactor must exceed 1, got $maxFactor")
    val spark0 = corpus.sparkSession
    val wide = widen(corpus)
    // pin the (≤4096-row) centroid relation locally after every round:
    // round r+1 must not re-execute rounds 1..r's plans — in particular
    // the corpus-wide md5 seed scan — through the growing lineage
    def localized(df: DataFrame): DataFrame =
      spark0.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    var cents = localized(
      ivfCentroidTable(corpus, idCol, vecCol, nlist, refineIters)
        .select(col("cid").cast("long").as("cid"),
          expr("transform(cast(cv as array<double>), x -> round(x, 6))").as("cv")))
    var nCells = nlist.toLong
    var maxCid = cents.agg(max(col("cid"))).head().getLong(0)
    // one sampled row pins dim for the PRE-collect driver-byte gates
    // below (ADVICE r14: gating after the .collect() can only report —
    // not prevent — the driver OOM it documents)
    val dim0 = cents.select(size(col("cv"))).head().getInt(0)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val assigned = cellAssignment(wide, idCol, vecCol, cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = assigned.groupBy("cell").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = sizes.valuesIterator.sum
      val cap = maxFactor * total.toDouble / nCells
      // each split nets +1 cell; stay inside the 4096-centroid
      // driver-bounded-collect contract of cellAssignment
      val room = (4096L - nCells).toInt
      val oversized = sizes.filter(_._2 > cap).toArray
        .sortBy { case (c, n) => (-n, c) }.take(room).map(_._1).sorted
      if (sys.props.contains("graft.balance.debug"))
        println(f"[bal] round=$round cells=$nCells max=${sizes.values.max} " +
          f"cap=$cap%.0f oversized=${oversized.length} " +
          f"top5=${sizes.values.toSeq.sorted.reverse.take(5).mkString(",")}")
      if (oversized.isEmpty) { done = true; assigned.unpersist(false) }
      else {
        // split = a THROUGH-CENTER cut, one shot: nearest-seed and
        // 2-means-from-member-seeds both fail on a dense core (the
        // seed better aligned with the cell center takes ~all members;
        // measured 17.5k → 15.1k/round — a shave). Instead, cut by the
        // SIGN of each member's projection onto d = the tangential
        // component (w.r.t. the centroid direction m̂) of the cell's
        // farthest member: c·d ≈ 0 by construction, so the sign is the
        // sign of the member's own noise projection — a balanced
        // bisection of the core regardless of density, deterministic
        // (farthest member by the already-computed csim, ties to the
        // smaller nid; v·d = 0 goes to side 1). Cells whose farthest
        // member is parallel to the centroid (all-identical vectors)
        // are left whole: splitting exact duplicates across cells
        // would hide half of them from a single-cell probe.
        val members = assigned
          .filter(col("cell").isin(oversized.toIndexedSeq: _*))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        requireDriverBytes("balanced-split centroid batch",
          oversized.length, dim0)
        val centVec = cents
          .filter(col("cid").isin(oversized.toIndexedSeq: _*))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
          .toMap
        requireDriverBytes("balanced-split farthest-member batch",
          oversized.length, dim0)
        val farRows = members.groupBy(col("cell"))
          .agg(min(struct(col("csim"), col("nid"),
            col("nv").cast("array<double>").as("fv"))).as("far"))
          .select(col("cell"), col("far.fv").as("fv"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        val splitDirs = farRows.flatMap { case (cell, f) =>
          val m = centVec(cell)
          val mn = math.sqrt(m.map(x => x * x).sum)
          if (mn == 0.0) None
          else {
            val mh = m.map(_ / mn)
            val proj = (0 until math.min(f.length, mh.length))
              .foldLeft(0.0)((s, i) => s + f(i) * mh(i))
            val d = Array.tabulate(mh.length)(i =>
              (if (i < f.length) f(i) else 0.0) - proj * mh(i))
            val dn = math.sqrt(d.map(x => x * x).sum)
            if (dn < 1e-9) None else Some(cell -> d.map(_ / dn))
          }
        }
        val splittable = splitDirs.map(_._1).sorted
        if (splittable.isEmpty) {
          // converged: no oversized cell yields a split direction —
          // skip the whole split tail (ADVICE r13: the empty-input
          // projection/median/means joins and their collect otherwise
          // run as wasted Spark jobs on every converged final round)
          done = true
          members.unpersist(false)
          assigned.unpersist(false)
        } else {
          import spark0.implicits._
          val dDf = broadcast(splitDirs.toSeq.toDF("cell", "dv"))
          // cut at the MEDIAN projection, not at 0: a later-round cell is
          // itself a half-space whose center the raw sign cut misses
          // (measured: 54%/46% decaying to 81%/19% down the hot lineage);
          // the exact per-cell median makes every split 50/50 by
          // construction (sort-based percentile — deterministic; ties at
          // the median go to side 1)
          val proj = members.join(dDf, "cell")
            .withColumn("p", vec_dot(col("nv"), col("dv")))
          val medians = proj.groupBy(col("cell"))
            .agg(expr("percentile(p, 0.5d)").as("med"))
          val sided = proj.join(broadcast(medians), "cell")
            .withColumn("side",
              when(col("p") >= col("med"), 1).otherwise(2))
          // each side's 6-dp coordinate mean (kmeansRefine discipline)
          val means = sided.select(col("cell"), col("side"),
              posexplode(col("nv").cast("array<double>")).as(Seq("dim", "x")))
            .groupBy("cell", "side", "dim").agg(avg("x").as("m"))
            .groupBy("cell", "side")
            .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
            .select(col("cell"), col("side"),
              expr("transform(dm, e -> round(e.m, 6))").as("cv"))
          // deterministic fresh cids for the split halves
          val cidOf = splittable.zipWithIndex.flatMap { case (c, i) =>
            Seq((c, 1, maxCid + 2 * i + 1), (c, 2, maxCid + 2 * i + 2))
          }.map { case (c, s, n) => (c, s) -> n }.toMap
          requireDriverBytes("balanced-split replacement centroids",
            2 * splittable.length, dim0)
          val newCents = means.collect().map { r =>
            (cidOf((r.getLong(0), r.getInt(1))), r.getSeq[Double](2))
          }
          members.unpersist(false)
          cents = localized(cents
            .filter(!col("cid").isin(splittable.toIndexedSeq: _*))
            .unionByName(newCents.toSeq.toDF("cid", "cv")))
          nCells = nCells - splittable.length + newCents.length
          maxCid += 2L * splittable.length
          assigned.unpersist(false)
        }
      }
    }
    cents
  }

  /** Driver-heap gate for bounded collects of dim-length double arrays
    * (the [[localizeProbes]] estBytes discipline applied to the
    * balanced-split collects): a row bound alone admits gigabytes once
    * each row carries a vector, so the gate is rows × (row header +
    * 8 B per coordinate) against the same 256 MB ceiling. */
  private[graft] def requireDriverBytes(what: String, rows: Int, dim: Int,
                                 maxBytes: Long = 256L << 20): Unit = {
    val est = rows.toLong * (48L + 8L * dim)
    require(est <= maxBytes,
      s"$what must be driver-bounded: estimated $est bytes " +
        s"($rows rows x dim $dim) exceeds the $maxBytes-byte gate")
  }

  /** Re-train and re-assign a persisted IVF index's cells in place —
    * the maintenance move that closes the append-drift loop: appends
    * assign to FIXED centroids (correct FAISS add() semantics), so a
    * drifting corpus re-skews cells over time; [[cellOccupancy]] is
    * the readout, this is the fix. [[balancedIvfCentroids]] retrains
    * over the FULL stored corpus (original build ∪ every appended
    * batch — the vectors live in the index, so no external corpus
    * pass), then every row re-assigns to the new cells and the table
    * rewrites through [[graft.engine.Bucketing.compactBucketed]]'s
    * staged single-catalog-op swap (so the rebalance doubles as a
    * compaction, and the old generation stays readable for in-flight
    * queries).
    *
    * Two-artifact crash safety (r14 verdict #3): the stamped staged
    * two-swap of [[graft.engine.PersistedIndex.stageTwoSwap]] — the
    * `_centroids` sidecar FIRST (its new data and new generation stamp
    * land in one `alterTable`), then the assignment table (ditto). A
    * crash between the two swaps leaves the artifacts at DIFFERENT
    * generations, which every query/append that composes them detects
    * and refuses LOUDLY ([[graft.engine.PersistedIndex.readModel]] —
    * not the silent short/empty results mismatched centroids used to
    * produce); re-running the rebalance repairs it (the assignment
    * table still holds the full union, so the retrain recomputes from
    * scratch).
    *
    * End state ≡ a fresh [[writeIvfIndex]] with the same
    * (nlist, balanceFactor) over the union corpus — OperatorsSpec pins
    * the equivalence, ProfRebalance measures the drift → rebalance
    * cycle (SCALING r14). */
  def rebalanceIvfIndex(spark: SparkSession, table: String, nlist: Int,
                        maxFactor: Double = 2.0, maxRounds: Int = 16,
                        refineIters: Int = 0): Unit =
    PersistedIndex.commitTwoSwap(spark, table, stageIvfRebalance(spark,
      table, nlist, maxFactor, maxRounds, refineIters))

  /** Everything in [[rebalanceIvfIndex]] up to — not including — the
    * assignment table's commit swap: retrain, sidecar swap (new
    * centroids + new gen, one catalog op), staged reassignment write.
    * Returns the new generation stamp. Exposed private[graft] so the
    * crash spec can stop exactly at the two-swap window and prove the
    * mismatch detector fires. */
  private[graft] def stageIvfRebalance(spark: SparkSession, table: String,
                                       nlist: Int, maxFactor: Double,
                                       maxRounds: Int = 16,
                                       refineIters: Int = 0): String = {
    val stored = Bucketing.readBucketed(spark, table)
      .select(col("nid"), col("nv"))
    // a driver-local relation (balancedIvfCentroids collects each
    // round), so the sidecar write and the reassignment below see the
    // SAME centroids with no recompute between them
    val cents0 = balancedIvfCentroids(stored, "nid", "nv", nlist,
      maxFactor, maxRounds, refineIters)
    PersistedIndex.stageTwoSwap(spark, table, "centroids", cents0,
      df => cellAssignment(df, "nid", "nv", normed(cents0)).drop("csim"))
  }

  /** Retrain and re-assign a persisted CODES index's coarse cells —
    * the [[rebalanceIvfIndex]] maintenance move extended to the
    * composed serving shapes (r14 verdict #1): the code tables
    * ([[writeIvfadcIndex]]/[[writeIvfadcResidualIndex]]) store only
    * (cell, code) rows, so the retrain needs `raw` — the id-keyed
    * raw-vector relation a deployment keeps beside the index, the
    * SAME relation [[ivfadcRerankTopKIndexed]]'s stage 2 already
    * requires. `raw` must cover exactly the indexed ids (pending
    * tombstones are excluded here and applied physically by the
    * rewrite, like [[compactIndex]]).
    *
    * Shared two-swap discipline ([[graft.engine.PersistedIndex.retrain]]):
    * balanced centroids retrain from the tombstone-cleaned raw store;
    * the `_centroids` sidecar swaps first (new data + new generation
    * stamp, one catalog op); `transform(oldRows, rawClean, cents)`
    * stages the rewritten codes; the table swap commits with the same
    * stamp. A crash between the swaps is detected loudly on every
    * subsequent query/append; re-running repairs. The retained
    * `_codebook` is untouched — it is the PQ model artifact; only the
    * coarse quantizer retrains. */
  private def rebalanceCodesIndex(spark: SparkSession, table: String,
                                  raw: DataFrame, idCol: String,
                                  vecCol: String, nlist: Int,
                                  maxFactor: Double, maxRounds: Int)
                                 (transform: (DataFrame, DataFrame, DataFrame) => DataFrame): Unit =
    // the vector column passes through UNCAST (numVec's float
    // tolerance applies downstream) so the retrain/assignment floats
    // are bit-identical to a fresh build over the same relation
    PersistedIndex.retrain(spark, table, "centroids",
        raw.select(col(idCol).as("nid"), col(vecCol).as("rv0"))) { rawClean =>
      val cents0 = balancedIvfCentroids(rawClean, "nid", "rv0", nlist,
        maxFactor, maxRounds)
      val origCols = spark.table(table).columns
      (cents0, old => transform(old, rawClean, normed(cents0))
        .select(origCols.map(col).toIndexedSeq: _*))
    }

  /** Rebalance a persisted (non-residual) IVFADC index from its
    * raw-vector store. The global codebook means PQ codes are
    * CELL-INDEPENDENT, so the rewrite keeps every (nid, nsub, code,
    * codeN2) row and only re-derives `cell` — the codes conserve
    * exactly (OperatorsSpec pins it), probe-ALL results are invariant
    * through the swap, and the new cells/centroids equal a fresh
    * balanced build over the union. */
  def rebalanceIvfadcIndex(spark: SparkSession, table: String,
                           raw: DataFrame, idCol: String, vecCol: String,
                           nlist: Int, maxFactor: Double = 2.0,
                           maxRounds: Int = 16): Unit =
    rebalanceCodesIndex(spark, table, raw, idCol, vecCol, nlist,
        maxFactor, maxRounds) { (old, rawClean, cents) =>
      old.drop("cell").join(
        cellAssignment(rawClean, "nid", "rv0", cents)
          .select(col("nid"), col("cell")), "nid")
    }

  /** Rebalance a persisted BY-RESIDUAL IVFADC index from its
    * raw-vector store. Residual codes quantize v − centroid(cell), so
    * new cells mean a full re-encode: residuals against the NEW
    * centroids, codes against the RETAINED codebook, cross terms
    * ([[residualCodes]]'s codeCdot) re-derived — the index the swap
    * commits is bit-identical to encoding the stored union against
    * (new centroids, old codebook), which OperatorsSpec pins. */
  def rebalanceIvfadcResidualIndex(spark: SparkSession, table: String,
                                   raw: DataFrame, idCol: String,
                                   vecCol: String, dim: Int, nlist: Int,
                                   m: Int = 4, maxFactor: Double = 2.0,
                                   maxRounds: Int = 16): Unit =
    rebalanceCodesIndex(spark, table, raw, idCol, vecCol, nlist,
        maxFactor, maxRounds) { (_, rawClean, cents) =>
      residualCodes(residualVectors(rawClean, "nid", "rv0", cents),
        storedCodebook(spark, table), cents, dim, m)
    }

  /** The shared occupancy-triggered maintenance policy — ties the
    * drift readout to its repair (ProfRebalance measured both sides,
    * SCALING r14): read the cell occupancy of the stored
    * assignment/code rows (one bounded aggregate — ≤4096 cells by the
    * centroid contract); max/p50 above `rebalanceAbove` runs
    * `rebalance` (retrain + rewrite + swap; a build-shaped batch job
    * that restores the straggler/scan bound — 11.7 → 1.8 measured on
    * the shifted-append fixture), otherwise the cheap tiers of
    * [[graft.engine.PersistedIndex.maintain]] apply: compact when the
    * layout decayed or deletes pend, else NO-OP (r14 verdict #2: the
    * healthy branch used to pay a full-index rewrite on every tick).
    * Returns the action taken with the observed bound. */
  private def maintainCellIndex(spark: SparkSession, table: String,
                                rebalanceAbove: Double)
                               (rebalance: () => Unit): String = {
    val counts = spark.table(table).groupBy("cell").count()
      .orderBy(col("count").desc).collect().map(_.getLong(1))
    require(counts.nonEmpty, s"index $table has no assignments")
    val bound = counts.head.toDouble / counts(counts.length / 2)
    PersistedIndex.maintain(spark, table,
      rebalance = Some(rebalance).filter(_ => bound > rebalanceAbove),
      observed = f"max/p50 $bound%.1f, rebalance above $rebalanceAbove%.1f")
  }

  /** [[maintainCellIndex]] over a raw-vector IVF index
    * ([[writeIvfIndex]]) — the stored vectors feed the retrain, no
    * external relation needed. Run it on the maintenance cadence a
    * deployment already has; the threshold's two sides are priced in
    * SCALING r14 (append 3.3 s/50k vs rebalance ~1.5× build). */
  def maintainIvfIndex(spark: SparkSession, table: String, nlist: Int,
                       maxFactor: Double = 2.0,
                       rebalanceAbove: Double = 4.0): String =
    maintainCellIndex(spark, table, rebalanceAbove)(() =>
      rebalanceIvfIndex(spark, table, nlist, maxFactor))

  /** [[maintainCellIndex]] over a persisted IVFADC codes index — the
    * billion-vector serving shape, which stores no raw vectors:
    * `raw` is the id-keyed raw-vector relation kept beside the index
    * (the [[ivfadcRerankTopKIndexed]] stage-2 contract). */
  def maintainIvfadcIndex(spark: SparkSession, table: String,
                          raw: DataFrame, idCol: String, vecCol: String,
                          nlist: Int, maxFactor: Double = 2.0,
                          rebalanceAbove: Double = 4.0): String =
    maintainCellIndex(spark, table, rebalanceAbove)(() =>
      rebalanceIvfadcIndex(spark, table, raw, idCol, vecCol, nlist,
        maxFactor))

  /** [[maintainCellIndex]] over a persisted by-residual IVFADC index
    * (re-encode semantics — see [[rebalanceIvfadcResidualIndex]]). */
  def maintainIvfadcResidualIndex(spark: SparkSession, table: String,
                                  raw: DataFrame, idCol: String,
                                  vecCol: String, dim: Int, nlist: Int,
                                  m: Int = 4, maxFactor: Double = 2.0,
                                  rebalanceAbove: Double = 4.0): String =
    maintainCellIndex(spark, table, rebalanceAbove)(() =>
      rebalanceIvfadcResidualIndex(spark, table, raw, idCol, vecCol,
        dim, nlist, m, maxFactor))

  /** Per-cell member counts of `corpus` against a centroid table
    * (cid, cv) — the occupancy readout a deployment monitors for hot
    * cells (a cell = a bucket = a task at query time, so max/median
    * occupancy is the straggler/scan-skew bound) before reaching for
    * [[balancedIvfCentroids]]. One map-side assignment pass + one
    * ≤nlist-row aggregate. */
  def cellOccupancy(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame): DataFrame =
    cellAssignment(corpus, idCol, vecCol, cents)
      .groupBy("cell").agg(count(lit(1)).as("n"))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web scale through semantic
    * deduplication", arXiv:2303.09540): cluster the corpus into `nlist`
    * cells around the deterministic [[ivfCentroids]], detect
    * near-duplicate pairs ONLY within a cell (the quadratic pair search
    * is bounded per cell — the property that lets the method run at web
    * scale), and nominate one side of each pair to drop: the vector MORE
    * similar to its centroid, keeping cluster outliers (the paper's
    * keep-low-centroid-similarity policy; ties drop the larger id).
    * One row per surviving pair: (cell, keep_id, drop_id, sim).
    *
    * Scale shape: cell assignment is the same map-side literal argmax
    * as [[ivfTopK]] (no shuffle, no ×nlist relation); the pair join
    * shuffles each cell's members once on cell id. Recall vs the exact
    * [[nearDupPairs]] baseline: a cross-cell near-dup pair is missed by
    * design — SemDeDup's accepted trade. Fully deterministic, so the
    * oracle re-derives centroids, assignment, and the drop policy in
    * SQL. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, threshold: Double = 0.9): DataFrame = {
    import graft.functions.VecExpressions.vec_dot
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    // both self-join sides consume the assignment — persist (lazily) so
    // the corpus scan + argmax + norm projection computes once, not once
    // per join branch (released with the session/bench cache clear)
    val assigned = cellAssignment(widen(corpus), idCol, vecCol, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("nid").as("id_a"), col("cell"),
      col("csim").as("ca"), col("nv").as("va"), col("nn").as("na"))
    val b = assigned.select(col("nid").as("id_b"), col("cell").as("cellb"),
      col("csim").as("cb"), col("nv").as("vb"), col("nn").as("nb"))
    a.join(b, col("cell") === col("cellb") && col("id_a") < col("id_b"))
      .withColumn("sim", vec_dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") > threshold)
      .select(col("cell"),
        when(col("ca") > col("cb"), col("id_b")).otherwise(col("id_a")).as("keep_id"),
        when(col("ca") > col("cb"), col("id_a")).otherwise(col("id_b")).as("drop_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Symmetric per-vector int8 quantization: `scale = max|x|/127`,
    * `q_i = floor(x_i/scale + 0.5)` (explicit half-up floor so an
    * external engine reproduces the rounding bit-for-bit). Cuts the
    * embedding footprint 4× (float) / 8× (double) — at 100 TB the
    * difference between an ANN candidate stage that fits executor
    * memory and one that spills. Cosine over quantized vectors needs no
    * dequantization: per-vector scales cancel, so downstream search runs
    * on the int values directly ([[quantizedTopK]]). Zero vectors keep
    * scale 0 and quantize to zeros.
    *
    * Deliberately NOT the SQ8 encoder ([[sq8TopK]]/[[writeSq8Index]]):
    * this scale is per VECTOR and symmetric, so it cancels in cosine
    * and needs no stored model; SQ8 quantizes per DIMENSION to 256
    * levels of the corpus-wide [lo, hi] range (Δ = (hi − lo)/256) and
    * persists those ranges as its model. The two produce different
    * values for the same vector, and s04's oracle pins this int8
    * rounding, so folding one into the other would change a gated
    * result. */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("qscale", array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .select(col("id"), col("qscale"),
        when(col("qscale") === 0d,
            transform(col("v"), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col("v"),
            x => floor(x / col("qscale") + lit(0.5)).cast("tinyint")))
          .as("qv"))

  /** Exact cosine top-k over int8-quantized vectors — the memory-bound
    * scale path of [[bruteForceTopK]], which it reuses verbatim: scales
    * cancel in cosine, so the search runs on the quantized values. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    def dq(df: DataFrame): DataFrame =
      quantizeInt8(df, idCol, vecCol)
        .select(col("id").as(idCol),
          transform(col("qv"), _.cast("double")).as(vecCol))
    bruteForceTopK(dq(corpus), dq(queries), idCol, vecCol, k)
  }

  /** PQ codebook: ks sampled vectors × m subspaces, one row per
    * (subspace, centroid) with the centroid's squared norm —
    * (cid, sub, cv, cn2). Deterministic md5-ordered sample. */
  private def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int, ks: Int): DataFrame = {
    import graft.functions.VecExpressions.vec_dot
    val sub = dim / m
    val sample = corpus.select(col(idCol).as("sid"), toDoubleVec(col(vecCol)).as("sv"))
      .withColumn("r", md5(concat(lit("pq"), col("sid").cast("string"))))
      .orderBy(col("r"), col("sid")).limit(ks)
      // post-limit: the unpartitioned window sees only the ks sampled
      // rows (ks ≤ 65536 by the codebook contract), so the WindowExec
      // single-partition warning is bounded by design
      .withColumn("cid", row_number().over(Window.orderBy(col("r"), col("sid"))))
    sample.select(col("cid"),
        posexplode(array((0 until m).map(i =>
          slice(col("sv"), i * sub + 1, sub)): _*)).as(Seq("sub", "cv")))
      .withColumn("cn2", vec_dot(col("cv"), col("cv")))
  }

  /** Lloyd-trained PQ codebook — what FAISS actually ships (its
    * ProductQuantizer k-means-trains every sub-codebook; the sampled
    * [[pqCodebook]] is only the k-means INIT). `iters` rounds of:
    * assign every subvector to its nearest code (ONE map-only
    * [[graft.functions.VecExpressions.vec_pq_codes]] projection for
    * all m subspaces at once) → per-(subspace, code, coordinate) mean.
    * Fully deterministic: md5-sampled init, fixed iteration count,
    * (d2, cid) tie order, coordinate means rounded to 6 dp INSIDE each
    * round (the [[kmeansRefine]] device — pins distributed float-sum
    * ambiguity before it can amplify through the next assignment);
    * empty codes keep their previous centroid. Oracle-replayable round
    * by round (s20).
    *
    * Scale shape per round: one map-only assignment pass + one
    * (subspace, code, coordinate)-keyed aggregate over the |corpus|×dim
    * value explode (partial-aggregated map-side, ks·dim output rows);
    * the codebook state lives on the driver between rounds (m·ks rows —
    * a model artifact), so no lineage accumulates across iterations.
    * Returns (cid, sub, cv, cn2) — drop-in for [[pqCodebook]]. */
  def pqCodebookTrained(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, m: Int, ks: Int, iters: Int): DataFrame = {
    import graft.functions.VecExpressions.vec_pq_codes
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    def dotLR(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    // init = the sampled codebook with coordinates rounded to 6 dp
    // (rounded via Spark SQL so the rounding rule matches the oracle)
    var bySub: Array[Array[(Int, Array[Double], Double)]] = {
      val init = pqCodebook(corpus, idCol, vecCol, dim, m, ks)
        .select(col("sub").cast("int"), col("cid").cast("int"),
          expr("transform(cv, x -> round(x, 6))").as("cv"))
        .collect()
      Array.tabulate(m) { s0 =>
        init.filter(_.getInt(0) == s0).map { r =>
          val cv = r.getSeq[Double](2).toArray
          (r.getInt(1), cv, dotLR(cv))
        }.sortBy(_._1)
      }
    }
    // vecs feeds two jobs per Lloyd round (assignment codes + the
    // coordinate means) — persist for the training loop; the returned
    // codebook is built from driver arrays, so release is safe here
    val vecs = widen(corpus.select(col(idCol).as("nid"),
      toDoubleVec(col(vecCol)).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try for (_ <- 1 to iters) {
      val codes = vecs
        .select(col("nid"), vec_pq_codes(col("v"), m, sub,
          bySub.map(_.map(_._1)), bySub.map(_.map(_._2)),
          bySub.map(_.map(_._3))).as("cs"))
        .select(col("nid"), posexplode(col("cs")).as(Seq("nsub", "c")))
        .select(col("nid"), col("nsub"), col("c.code").as("code"))
      val means = vecs
        .select(col("nid"), posexplode(col("v")).as(Seq("d", "x")))
        .select(col("nid"), (col("d") / lit(sub)).cast("int").as("nsub"),
          (col("d") % lit(sub)).cast("int").as("j"), col("x"))
        .join(codes, Seq("nid", "nsub"))
        .groupBy("nsub", "code", "j")
        .agg(round(avg("x"), 6).as("mx"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      bySub = Array.tabulate(m) { s0 =>
        bySub(s0).map { case (cid, cv, cn2) =>
          // ALL coordinates must be present (a code assigned only
          // truncated vectors yields partial means — keep the previous
          // centroid whole rather than splicing old and new coords)
          if ((0 until sub).forall(j => means.contains((s0, cid, j)))) {
            val ncv = Array.tabulate(sub)(j => means((s0, cid, j)))
            (cid, ncv, dotLR(ncv))
          } else (cid, cv, cn2) // empty/partial code keeps its centroid
        }
      }
    } finally { vecs.unpersist(false); () }
    bySub.zipWithIndex.flatMap { case (rows, s0) =>
      rows.map { case (cid, cv, cn2) => (cid, s0, cv.toSeq, cn2) }
    }.toSeq.toDF("cid", "sub", "cv", "cn2")
  }

  /** The codebook a build trains: Lloyd-trained for `trainIters` > 0,
    * else the md5 sample. */
  private def codebookFor(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, m: Int, ks: Int,
                          trainIters: Int): DataFrame =
    if (trainIters > 0) pqCodebookTrained(corpus, idCol, vecCol, dim, m, ks, trainIters)
    else pqCodebook(corpus, idCol, vecCol, dim, m, ks)

  /** A persisted index's `_codebook` model. */
  private def storedCodebook(spark: SparkSession, table: String): DataFrame =
    PersistedIndex.readModel(spark, table, "codebook")

  /** PQ corpus codes: nearest codebook centroid per (vector, subspace)
    * by L2 — argmin ‖x−c‖² = argmin (‖c‖² − 2·x·c); ties toward smaller
    * cid. Returns (nid, nsub, code, codeN2).
    *
    * The codebook is DRIVER-BOUNDED (m·ks rows — a model artifact, the
    * same bounded-collect contract as [[cellAssignment]]'s centroids)
    * and rides in one codegen'd [[graft.functions.VecExpressions
    * .vec_pq_codes]] projection, so encoding is MAP-ONLY: scan →
    * project → explode m tiny structs. The previous explode-×m ⋈
    * broadcast-codebook-×ks ⋈ (id, sub)-min-aggregate form pushed
    * m·ks rows per vector through the plan — measured 109 s of the
    * ks=256 index build on the 200 k tuning fixture, vs 16 s at ks=16;
    * the argmin itself is identical (same d2 arithmetic, same
    * (d2, cid) tie order, gate-hash-verified). */
  private def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                       codebook: DataFrame, dim: Int, m: Int,
                       carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.VecExpressions.vec_pq_codes
    val sub = dim / m
    val local = codebook
      .select(col("sub").cast("int"), col("cid").cast("int"),
        col("cv").cast("array<double>"), col("cn2").cast("double"))
      .collect()
    require(local.nonEmpty && local.length <= 65536,
      s"codebook must be driver-bounded, got ${local.length}")
    val bySub = Array.tabulate(m) { s =>
      local.filter(_.getInt(0) == s)
        .map(r => (r.getInt(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    }
    require(bySub.forall(_.nonEmpty), s"codebook missing a subspace (m=$m)")
    // `carry` columns of the input ride through the encode projection
    // and the explode — the device that lets a caller attach per-vector
    // attributes (the IVF cell) WITHOUT a corpus-sized join back on nid
    // (two exchanges + two sorts for rows the same scan already held —
    // guide §2.4).
    val carryCols = carry.map(col)
    // the codes array is PROJECTED below the explode (generator
    // expressions evaluate interpreted — the shingleRel discipline)
    widen(corpus.select(col(idCol).as("nid") +: numVec(corpus, vecCol).as("v")
        +: carryCols: _*))
      .select(col("nid") +: vec_pq_codes(col("v"), m, sub,
        bySub.map(_.map(_._1)), bySub.map(_.map(_._2)),
        bySub.map(_.map(_._3))).as("cs") +: carryCols: _*)
      .select(col("nid") +: posexplode(col("cs")).as(Seq("nsub", "c"))
        +: carryCols: _*)
      .select(col("nid") +: col("nsub") +: col("c.code").as("code")
        +: col("c.codeN2").as("codeN2") +: carryCols: _*)
  }

  /** The corpus with its IVF cell attached as ONE map-side projection
    * (the [[cellAssignment]] literal argmax riding next to the original
    * columns) — the input shape that lets [[pqEncode]] carry `cell`
    * through the encode instead of joining the corpus to itself. */
  private def withCellCol(corpus: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame): DataFrame = {
    import graft.functions.VecExpressions.vec_best_cell
    val local = collectCentroids(cents)
    require(local.nonEmpty && local.length <= 4096,
      s"centroid table must be driver-bounded, got ${local.length}")
    corpus.select(col(idCol), col(vecCol),
      vec_best_cell(numVec(corpus, vecCol),
        local.map(_._1), local.map(_._2.toArray), local.map(_._3))
        .getField("cell").as("cell"))
  }

  /** ADC search over precomputed codes: the query-side distance tables
    * broadcast against the (nsub, code) relation, asymmetric-distance
    * scores aggregate per (qid, nid), top-k per query. The encoded side
    * is streamed — when it arrives bucketed by nid
    * ([[writePqIndex]]'s layout), the (qid, nid) aggregation reuses the
    * bucket partitioning and the whole query is shuffle-free. */
  private def pqAdcSearch(encoded: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String,
                          codebook: DataFrame, dim: Int, m: Int,
                          k: Int): DataFrame =
    topKPerQuery(encoded
      .join(adcTables(queries, idCol, vecCol, codebook, dim, m),
        Seq("nsub", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid")
      .agg(adcSim.as("sim")), k)

  /** The ADC tables every PQ-family query scores against: per query ×
    * subspace × codebook centroid the partial dot product,
    * (qid, qn, nsub, code, pdot), broadcast (the query set is small by
    * contract — same as [[bruteForceTopK]]). */
  private def adcTables(queries: DataFrame, idCol: String, vecCol: String,
                        codebook: DataFrame, dim: Int, m: Int): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    val sub = dim / m
    broadcast(queries
      .select(col(idCol).as("qid"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", vec_norm(col("qv")))
      .select(col("qid"), col("qn"),
        posexplode(array((0 until m).map(i =>
          slice(col("qv"), i * sub + 1, sub)): _*)).as(Seq("nsub", "qsv")))
      .join(codebook.withColumnRenamed("sub", "nsub"), "nsub")
      .select(col("qid"), col("qn"), col("nsub"), col("cid").as("code"),
        vec_dot(col("qsv"), col("cv")).as("pdot")))
  }

  /** The ADC score aggregate with EXACT partial sums: pdot and codeN2
    * accumulate as DECIMAL(30,12) (order-independent in Spark AND in
    * the DuckDB oracle's parallel hash aggregate), so two candidates
    * whose float sums would differ only in accumulation order can
    * never swap ranks between engines or between runs — the t32
    * gradient-sum device applied to retrieval ranking (an s15 rank-3
    * tie at the 6dp grid exposed the raw-double version as flaky). */
  private def adcSim: Column = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    sum(col("pdot").cast(dec)).cast("double") /
      (max(col("qn")) * sqrt(sum(col("codeN2").cast(dec)).cast("double")))
  }

  /** Product-quantization ANN (the third classic scale path next to LSH
    * and IVF; Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — public literature): split each vector into
    * `m` subvectors, quantize each against a per-subspace codebook of
    * `ks` centroids, score queries with an asymmetric-distance table —
    * per subspace the query's dot product with every centroid, summed
    * over the corpus vector's codes. Corpus state shrinks from dim
    * floats to m single-byte codes (~32× at dim 64 / m 4); the scoring
    * join touches codes, never vectors.
    *
    * Deterministic codebook: the `ks` corpus vectors with the smallest
    * `md5("pq" + id)` donate their subvectors (the [[ivfCentroids]]
    * sampling trick) — reproducible by an external oracle, which is why
    * this is oracle-checked rather than rows-only. Cosine-style score:
    * dot(q, x̂) / (‖q‖·‖x̂‖) with x̂ the reconstruction; ties toward the
    * smaller centroid id, then smaller corpus id.
    *
    * Scale shape: the codebook (m·ks subvectors) broadcasts everywhere;
    * encoding is a map-side min-struct aggregate per (vector, subspace)
    * — one shuffle on id; the ADC join is (corpus codes) ⋈ broadcast
    * (query tables) on (subspace, code), one more shuffle for the
    * per-(query, vector) sum. Recall < 1 by construction (quantization
    * error), the standard PQ trade. `trainIters` > 0 Lloyd-trains the
    * codebook ([[pqCodebookTrained]]). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, dim: Int, k: Int, m: Int = 4,
             ks: Int = 16, trainIters: Int = 0): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val codebook = codebookFor(corpus, idCol, vecCol, dim, m, ks, trainIters)
    val encoded = pqEncode(corpus, idCol, vecCol, codebook, dim, m)
    pqAdcSearch(encoded, queries, idCol, vecCol, codebook, dim, m, k)
  }

  /** Persist a PQ index: the codebook plus the corpus CODES (4 small
    * ints per vector per subspace — the 64× compression that lets a
    * 100 TB corpus's index live in a fraction of the raw footprint),
    * codes bucketed by nid so the query-time (qid, nid) aggregation
    * reuses the on-disk partitioning. Query with [[pqTopKIndexed]];
    * the expensive corpus-encode pass runs ONCE here, never per query
    * batch. */
  def writePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   table: String, path: String, dim: Int, m: Int = 4,
                   ks: Int = 16, buckets: Int = 8,
                   trainIters: Int = 0): Unit = {
    require(dim % m == 0, "m must divide dim")
    PersistedIndex.build(corpus.sparkSession, table) {
      val codebook = codebookFor(corpus, idCol, vecCol, dim, m, ks,
        trainIters)
      PersistedIndex.writeSidecar(codebook, table, path, "codebook")
      Bucketing.writeBucketed(
        pqEncode(corpus, idCol, vecCol, codebook, dim, m),
        table, path, Seq("nid"), buckets)
    }
  }

  /** Append a NEW vector batch to a persisted PQ index without
    * rebuilding — the recurring-crawl posture ([[graft.operators.Dedup
    * .minhashIncremental]]'s device applied to ANN serving, FAISS
    * `add()` semantics): the batch encodes against the EXISTING
    * codebook and its codes insert into the bucketed table, so
    * previously-indexed vectors are never re-encoded and the append
    * cost is |batch|, not |corpus|. The codebook is a model artifact
    * and stays fixed across appends; quantizer drift is handled by
    * periodic rebuild ([[writePqIndex]]), not per-batch retraining.
    * `buckets` must match the original build (Spark validates the
    * bucket spec of an append against the catalog). */
  def appendPqIndex(spark: SparkSession, newVectors: DataFrame,
                    idCol: String, vecCol: String, table: String,
                    dim: Int, m: Int = 4, buckets: Int = 8): Unit = {
    require(dim % m == 0, "m must divide dim")
    Bucketing.appendBucketed(
      pqEncode(newVectors, idCol, vecCol, storedCodebook(spark, table),
        dim, m),
      table, Seq("nid"), buckets)
    spark.catalog.refreshTable(table)
  }

  /** Compact a persisted index's bucketed code/assignment table back to
    * one file per bucket ([[graft.engine.Bucketing.compactBucketed]]).
    *
    * Every [[appendPqIndex]]/[[appendIvfadcIndex]]/
    * [[appendIvfadcResidualIndex]] batch adds a file per bucket, so a
    * year of daily appends turns each bucket-pruned probed-cell scan
    * into ~365 tiny-file opens per bucket — compaction restores the
    * build-time layout (results bit-identical, bucket pruning and the
    * no-encode query plan untouched; IndexPlanSpec pins both). The
    * sidecar `_codebook`/`_centroids` tables are write-once model
    * artifacts and never need it. Run it on the rebuild cadence a
    * deployment already has (weekly, or when files-per-bucket crosses
    * a threshold) — it reads and rewrites the whole index once.
    *
    * Pending [[deleteFromIndex]] tombstones are PHYSICALLY APPLIED
    * here (anti-joined out of the rewrite — compaction already
    * rewrites every row, so deletes ride free) and the tombstone set
    * is then truncated: post-compaction queries pay no anti-join. */
  def compactIndex(spark: SparkSession, table: String): Unit =
    PersistedIndex.compact(spark, table)

  /** Mark index rows deleted — FAISS `remove_ids()` semantics on the
    * persisted indexes: `ids` (any one-column-projectable relation,
    * e.g. a dedup keep-list's drop side) append to a `_tombstones`
    * sidecar keyed by `nid`; every `*TopKIndexed` query anti-joins it
    * out ([[graft.engine.PersistedIndex.withoutDeleted]]), and the next
    * [[compactIndex]] applies it physically and truncates it. Without
    * this the engine's own dedup verdicts (d10/d20/t24) could never
    * retract an already-indexed near-duplicate short of a full
    * rebuild. The tombstone set is a small broadcast side by
    * construction (deletes between compactions, not the corpus). */
  def deleteFromIndex(spark: SparkSession, table: String, ids: DataFrame,
                      idCol: String = "nid"): Unit =
    PersistedIndex.delete(table, ids, idCol, "nid")

  /** Query a persisted PQ index: identical results to [[pqTopK]] with
    * the same (dim, m, ks, k) — codebook and codes are read back, not
    * recomputed, so the ADC scores are bit-identical and the plan has
    * NO corpus-encode stage (the per-batch cost [[pqTopK]] pays). */
  def pqTopKIndexed(spark: SparkSession, table: String, queries: DataFrame,
                    idCol: String, vecCol: String, dim: Int, k: Int,
                    m: Int = 4, pred: Column = lit(true)): DataFrame = {
    val codebook = storedCodebook(spark, table)
    pqAdcSearch(
      PersistedIndex.withoutDeleted(spark, table,
        Bucketing.readBucketed(spark, table).filter(pred)),
      queries, idCol, vecCol, codebook, dim, m, k)
  }

  /** Two-stage retrieval — PQ candidates, EXACT re-rank (the serving
    * shape every production ANN deployment runs, IVFADC + refine in
    * Jégou et al. 2011 §VI): stage 1 takes `kCand` candidates per query
    * from [[pqTopK]]'s byte-code ADC scores, stage 2 re-scores ONLY
    * those pairs with exact cosine over the full vectors and keeps the
    * top `k`. Precision within the candidate set becomes exact; recall
    * is stage 1's at the kCand budget (graded by [[recallAtK]]).
    *
    * Scale shape: stage 2 touches |queries|·kCand pairs — the refine is
    * candidate-bounded, never a corpus scan; the query side broadcasts
    * (small by the same contract as [[bruteForceTopK]]) and the corpus
    * side contributes one id-keyed join for the full vectors. */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, dim: Int, k: Int, kCand: Int,
                   m: Int = 4, ks: Int = 16): DataFrame =
    exactRerank(pqTopK(corpus, queries, idCol, vecCol, dim, kCand, m, ks),
      corpus, queries, idCol, vecCol, k)

  /** Stage 2 of two-stage retrieval: re-score only the (qid, nid)
    * candidate pairs with exact cosine over the full vectors of
    * `corpus` and keep the top `k` per query. */
  private def exactRerank(candidates: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    val cand = candidates.select(col("qid"), col("nid"))
    val cv = corpus.select(col(idCol).as("nid"),
      toDoubleVec(col(vecCol)).as("nv"))
    val qv = broadcast(queries.select(col(idCol).as("qid"),
      toDoubleVec(col(vecCol)).as("qv")))
    topKPerQuery(cand.join(qv, "qid").join(cv, "nid")
      .select(col("qid"), col("nid"),
        (vec_dot(col("qv"), col("nv")) /
          (vec_norm(col("qv")) * vec_norm(col("nv")))).as("sim")), k)
  }

  /** Two-stage retrieval over a PERSISTED IVFADC index — the actual
    * serving recipe (ADC candidates from the code table, exact cosine
    * re-rank against the raw-vector store): stage 1 is
    * [[ivfadcTopKIndexed]] at `kCand` (bucket-pruned probed-cell scan,
    * no raw vectors); stage 2 joins ONLY the |queries|·kCand candidate
    * pairs back to `corpus` (the id-keyed raw-vector relation a
    * deployment keeps beside the index) and keeps the exact top `k`.
    * The round-12 tuning tier's recall ceiling argument: ADC recall at
    * kCand plus exact ordering ≈ IVF-exact recall at code-table scan
    * cost. */
  def ivfadcRerankTopKIndexed(spark: SparkSession, table: String,
                              corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String, dim: Int,
                              k: Int, kCand: Int, nprobe: Int = 4,
                              m: Int = 4, pred: Column = lit(true)): DataFrame =
    // `pred` restricts stage 1's candidate generation (the codes scan)
    // — the exact re-rank then only ever sees passing candidates
    exactRerank(ivfadcTopKIndexed(spark, table, queries, idCol, vecCol,
      dim, kCand, nprobe, m, pred), corpus, queries, idCol, vecCol, k)

  /** Bucketed ANN: candidates restricted to the query's LSH bucket, then
    * exact cosine top-k within the bucket. Recall < 1 by construction —
    * this is the documented approximate/scale path next to
    * [[bruteForceTopK]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, nbits: Int = 12): DataFrame = {
    import graft.functions.VecExpressions.{vec_dot, vec_norm}
    val bq = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), dim, nbits).as("bucket"))
      .withColumn("qn", vec_norm(col("qv")))
    val bc = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      lshBucket(col(vecCol), dim, nbits).as("bucket"))
      .withColumn("nn", vec_norm(col("nv")))
    topKPerQuery(bc.join(bq, Seq("bucket")).filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim")), k)
  }

  /** ANN quality audit — per-query recall of an approximate result set
    * against the exact baseline: `recall(q) = |approx(q) ∩ exact(q)| /
    * |exact(q)|`. Both inputs are `(qid, nid, …)` top-k relations (the
    * shape every `*TopK` operator here returns). The production loop for
    * tuning nlist/nprobe/nbits on a live corpus: sample queries, run both
    * paths, regress recall. Scale shape: both sides are k·|queries| rows
    * (never corpus-sized), so the join and the per-query aggregate are
    * bounded by the query sample — one small shuffle regardless of
    * corpus size. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("qid"), col("nid"))
    val a = approx.select(col("qid").as("aqid"), col("nid").as("anid"))
    e.join(a, col("qid") === col("aqid") && col("nid") === col("anid"),
        "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"), count(col("anid")).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Johnson–Lindenstrauss random projection to `k` dims with the ±1
    * sign matrix (Achlioptas 2001, public — database-friendly random
    * projections): out[j] = Σᵢ s(j,i)·v[i], s the same SplitMix64 sign
    * family as [[hyperplane]], so the matrix is reproducible anywhere
    * from (j, i) alone — no stored model, and an external oracle
    * re-derives it. JL preserves pairwise distances within (1±ε) for
    * k = O(ln n / ε²), which makes the projected space a valid cheap
    * pre-filter for ANN (d× fewer bytes per vector through every
    * downstream shuffle).
    *
    * Scale shape: `k` codegen'd [[graft.functions.VecExpressions
    * .vec_dot]]s in ONE map-only projection — no shuffle, no HOF
    * boxing; the scan's partitioning is preserved. Values round to 4dp
    * to pin the float-sum form. Returns (id, pv: array<double>). */
  def randomProject(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, k: Int): DataFrame = {
    import graft.functions.VecExpressions.vec_dot
    val v = col("__rp_v")
    corpus.select(col(idCol).as("id"), col(vecCol).as("__rp_v"))
      .select(col("id"),
        array((0 until k).map { j =>
          round(vec_dot(v, typedLit(hyperplane(j, dim))), 4)
        }: _*).as("pv"))
  }

  /** Prototype-based corpus pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws" — public): cluster the corpus (here the IVF
    * coarse cells), rank every member by cosine to its own cell centroid,
    * and DROP the most prototypical `dropFrac` of each cell — the
    * near-centroid examples are the "easy" redundant mass; the kept
    * tail carries the information. The pruning twin of [[semanticDedup]]
    * (which drops near-DUPLICATE pairs; this drops near-CENTROID mass).
    *
    * Scale shape: cell assignment is the map-side literal argmax of
    * [[ivfTopK]] (no shuffle); the rank + cell-size windows shuffle once
    * on the cell id — cells are corpus/nlist-sized, the partition grain
    * a 100 TB deployment tunes via nlist. Drop count is
    * floor(dropFrac·|cell|), ties toward the smaller id. Returns the
    * KEPT rows (id, cell, csim, rank, cell_n). */
  def prototypePrune(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, dropFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    val byCell = Window.partitionBy(col("cell"))
    val asgn = cellAssignment(corpus, idCol, vecCol, cents)
      .withColumn("rank", row_number().over(
        byCell.orderBy(col("csim").desc, col("nid").asc)))
      .withColumn("cell_n", count(lit(1)).over(byCell))
    asgn.filter(col("rank") > floor(lit(dropFrac) * col("cell_n")))
      .select(col("nid").as("id"), col("cell"),
        round(col("csim"), 6).as("csim"), col("rank"), col("cell_n"))
  }
}
