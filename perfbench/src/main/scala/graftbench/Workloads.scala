package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Passes.timed

/** `etl_release`: the product path. Untraced passes call
  * `graft.engine.Runner.run` once per source (no augmentation joins
  * these sources, so this is the graph a single multi-source run writes)
  * with NT + Turtle output and a pinned as-of date. Traced passes
  * drive the same public steps Runner composes — `GraftSource.read`,
  * `transform`, the metadata/axiom union and set-dedup, then each sink —
  * with a materialization barrier after read and transform so each
  * layer's time is its own. */
final class EtlRelease(ctx: Ctx) extends Workload {
  import graft.engine.{Runner => R}
  private val spark = ctx.spark
  val sources = Seq("wormbase", "order_assocs")
  def nominalPassS = 20.0
  /** Relative on purpose: the dataset-metadata graph embeds the data
    * directory, and the output digest must not depend on the run dir. */
  private val data = "data"
  private val sf = 0.002
  private val asOf = "2026-08-01"
  private def cfg(src: String) = R.RunConfig(sources = Seq(src), outDir = ctx.out,
    destFmt = Seq("nt", "turtle"), version = "2026-08", asOfDate = Some(asOf))

  def prepare(): Map[String, Double] = {
    val (_, gen) = timed(Gen.landEtl(spark, data, sf, ctx.seed))
    Map("gen_s" -> gen)
  }

  def pass(i: Int, ops: mutable.ArrayBuffer[Op], c: mutable.Map[String, Double]): Unit = {
    sources.foreach { src =>
      val (n, s) = timed(if (ctx.tracer.spark.isDefined) traced(src, c) else
        R.run(spark, cfg(src), data).map(_.triples).sum)
      ops += Op("release", src, s, ok = n > 0)
      c(s"triples.$src") = n.toDouble
    }
    c("triples") = sources.map(s => c(s"triples.$s")).sum
    c("nt_bytes") = sources.map(s => Files.bytes(new File(ctx.out, s"$s.nt"))).sum.toDouble
    c("turtle_bytes") = sources.map(s => Files.bytes(new File(ctx.out, s"$s.ttl"))).sum.toDouble
  }

  /** Runner.run's per-source body, one span per layer call. */
  private def traced(name: String, c: mutable.Map[String, Double]): Long = {
    import spark.implicits._
    val src = R.registry(name)
    val inputs = ctx.span(s"sources.$name.read") {
      val in = src.read(spark, data).map { case (k, df) =>
        k -> df.persist(StorageLevel.MEMORY_AND_DISK) }
      c(s"rows_in.$name") = in.values.map(_.count()).sum.toDouble
      in
    }
    val triples = ctx.span(s"engine.$name.transform") {
      val t = src.transform(spark, inputs, Nil).toDF().persist(StorageLevel.MEMORY_AND_DISK)
      c(s"emitted.$name") = t.count().toDouble
      t
    }
    val full = ctx.span("engine.dedup") {
      val meta = graft.emit.DatasetMeta.describe(s"EX:ds/$name", name, "2026-08",
        s"file://$data", asOf).toDF()
      val all = triples.union(meta).union(graft.engine.PropertyAxioms.axiomTriples(triples))
        .persist(StorageLevel.MEMORY_AND_DISK)
      c(s"dedup_in.$name") = all.count().toDouble
      val f = all.dropDuplicates("s", "p", "o", "lit", "dt").persist(StorageLevel.MEMORY_AND_DISK)
      val n = f.count()
      all.unpersist(false)
      (f, n)
    }
    val (f, n) = full
    ctx.span("sinks.nt.write")(graft.sinks.TripleSinks.writeNt(f, s"${ctx.out}/$name.nt", R.curieMap))
    ctx.span("sinks.turtle.write")(
      graft.sinks.TripleSinks.writeTurtle(f, s"${ctx.out}/$name.ttl", R.curieMap))
    if (src.testIds.nonEmpty)
      ctx.span("sinks.test_subset.write")(graft.sinks.TripleSinks.writeTestSubset(
        f, src.testIds, s"${ctx.out}/${name}_test.nt", R.curieMap))
    (Seq(f, triples) ++ inputs.values).foreach(_.unpersist(false))
    n
  }

  /** Every NT line parses with `NT.parseLine`; per source the line count
    * equals Runner's distinct count; the order-free digest (line count,
    * xor and low-32-bit sum of xxhash64 per line) goes to run.py, which
    * compares it with the value recorded for the default seed. */
  def check(c: mutable.Map[String, Double]): Seq[(String, Boolean, String)] = {
    import spark.implicits._
    var total = 0L; var xor = 0L; var low = 0L
    val perSource = sources.map { src =>
      val lines = spark.read.text(s"${ctx.out}/$src.nt").as[String]
      val bad = lines.mapPartitions { it =>
        Iterator(it.count(l => try { graft.core.NT.parseLine(l).isEmpty }
          catch { case _: IllegalArgumentException => true }).toLong)
      }.collect().sum
      val hv = xxhash64(col("value"))
      val row = lines.select(count(lit(1)), coalesce(bit_xor(hv), lit(0L)),
        coalesce(sum(hv.bitwiseAND(0xffffffffL)), lit(0L))).head()
      val n = row.getLong(0)
      total += n; xor ^= row.getLong(1); low += row.getLong(2)
      val want = c(s"triples.$src").toLong
      (s"nt_lines.$src", bad == 0 && n == want && n > 0,
        s"lines=$n distinct=$want unparseable=$bad")
    }
    val ttl = sources.forall(s => Files.bytes(new File(ctx.out, s"$s.ttl")) > 0)
    perSource ++ Seq(("turtle_written", ttl, ""),
      ("digest", true, s"lines=$total xor=$xor low32sum=$low"))
  }
}

/** `ops_churn`: an analysis session over one SparkSession — catalog
  * queries (fixed-cost-bound) interleaved with index churn (writes beside
  * reads). A pass builds the indexes, runs half of the seeded query
  * order, churns the indexes once, runs the other half, then takes one
  * MinHash streaming-dedup trigger and compacts BM25. */
final class OpsChurn(ctx: Ctx) extends Workload {
  private val mix = new CatalogMix(ctx)
  private val churn = new IndexChurn(ctx)
  def nominalPassS = 45.0

  def prepare(): Map[String, Double] = {
    val (_, corpus) = timed(mix.prepare())
    val (_, docs) = timed(churn.prepare())
    Map("gen_s" -> (corpus + docs), "corpus_gen_s" -> corpus, "churn_gen_s" -> docs)
  }

  def pass(i: Int, ops: mutable.ArrayBuffer[Op], c: mutable.Map[String, Double]): Unit = {
    val (first, second) = mix.order.splitAt(mix.order.length / 2)
    churn.build(i, ops)
    mix.run(first, ops)
    churn.round(i, ops, c)
    mix.run(second, ops)
    churn.finish(i, ops, c)
  }

  def check(c: mutable.Map[String, Double]): Seq[(String, Boolean, String)] =
    mix.check() ++ churn.check(c)
}

/** A fixed list of catalog queries over a fixed generated corpus, each
  * fully evaluated (count + xor-hash of every output column), in an
  * order the seed permutes. The corpus has its own seed, so the
  * recorded results hold for every run seed; being seed-independent it
  * is generated once per checkout and reused. */
final class CatalogMix(ctx: Ctx) {
  private val spark = ctx.spark
  private val corpusSeed = 42L
  private val sf = 0.01
  private val data = new File(ctx.cache, s"catalog-corpus-v1-$sf-$corpusSeed").getAbsolutePath
  val order: Seq[String] = new scala.util.Random(ctx.seed).shuffle(CatalogMix.queries)
  private val results = mutable.Map[String, mutable.LinkedHashSet[(Long, Long)]]()
  private val errors = mutable.Map[String, String]()

  def prepare(): Unit = {
    val done = new File(data, "_DONE")
    if (!done.exists()) {
      Files.rm(new File(data))
      Gen.corpus(spark, data, sf, corpusSeed, docs = 1000, vecs = 1000)
      done.createNewFile()
    }
  }

  def run(queries: Seq[String], ops: mutable.ArrayBuffer[Op]): Unit = {
    val all = graft.SparkEntry.queries
    queries.foreach { q =>
      val (r, s) = timed(try Right(ctx.span(s"queries.${q.head}.$q")(CountHash(all(q)(spark, data))))
        catch { case e: Throwable => Left(e) })
      r match {
        case Right(nh) =>
          ops += Op("query", q, s, ok = true)
          results.getOrElseUpdate(q, mutable.LinkedHashSet()) += nh
        case Left(e) =>
          ops += Op("query", q, s, ok = false)
          errors(q) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
  }

  /** A query must give one (count, hash) over all passes; run.py
    * compares it with the value recorded for this corpus. */
  def check(): Seq[(String, Boolean, String)] =
    CatalogMix.queries.map { q =>
      (errors.get(q), results.get(q).map(_.toSeq)) match {
        case (Some(e), _) => (s"query.$q", false, e)
        case (None, Some(Seq((n, h)))) => (s"query.$q", true, s"$n $h")
        case (None, r) => (s"query.$q", false, s"results differ between passes: $r")
      }
    }
}

object CatalogMix {
  /** q/r/d/s/t rows that persist no index, d22 (the open regression)
    * included. */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q07_topk_per_group", "q11_distinct_dedup", "q24_window_hourly",
    "q32_cube", "r02_assoc_reified", "r05_feature_faldo", "d01_dedup_exact",
    "d22_dedup_recall_audit", "s01_ann_topk", "s03_ann_ivf", "t03_token_count",
    "t05_vocab_topk")
}

/** BM25 and IVFADC indexes built in the run's warehouse, one round of
  * appends, a BM25 delete and batches of indexed top-k queries, one
  * MinHash streaming-dedup trigger, and a BM25 compaction. */
final class IndexChurn(ctx: Ctx) {
  import graft.operators.{Dedup, Retrieval, Similarity}
  private val spark = ctx.spark
  import spark.implicits._
  private val dir = new File(ctx.work, "churn").getAbsolutePath
  private val base = 1200L      // docs / vectors in the initial build
  private val batch = 200L      // docs / vectors appended
  private val bm25Q = 2         // bm25 query calls
  private val annQ = 2          // ivfadc query calls
  private val qPerCall = 4      // queries per call
  private val ingestDocs = 100L
  private val total = base + batch
  private val dim = 64

  private def docs = spark.read.parquet(s"$dir/docs")
  private def vecs = spark.read.parquet(s"$dir/vecs")
  private def qtexts = spark.read.parquet(s"$dir/qtext")
  private def qvecs = spark.read.parquet(s"$dir/qvec")
  private def deleted: DataFrame =
    docs.filter(col("doc_id") < base && Gen.h(ctx.seed, col("doc_id"), lit(90)) % 40L === 0)
      .select("doc_id")

  def prepare(): Unit = {
    Gen.documents(spark, total, ctx.seed).select("doc_id", "text")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/docs")
    Gen.vectors(spark, total, ctx.seed).select(col("id").as("vec_id"), col("embedding"))
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/vecs")
    // queries: the first words of seeded documents outside the corpus
    Gen.documents(spark, 100, ctx.seed + 1, from = 1000000L)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/qtext")
    Gen.vectors(spark, 100, ctx.seed, from = 1000000L)
      .select(col("id").as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/qvec")
    // the streaming-dedup arrivals: fresh docs plus re-sent copies
    Gen.documents(spark, ingestDocs / 2, ctx.seed, from = 2000000L).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < ingestDocs / 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/arrivals")
  }

  private def names(i: Int) = (s"churn_bm25_$i", s"churn_ivfadc_$i", s"churn_mh_$i")
  private def idx(i: Int) = s"$dir/idx$i"
  private var lastPass = -1

  private def op[A](ops: mutable.ArrayBuffer[Op], kind: String, name: String, span: String)
                   (f: => A): A = {
    val (r, s) = timed(ctx.span(span)(f))
    ops += Op(kind, name, s, ok = true)
    r
  }

  def build(i: Int, ops: mutable.ArrayBuffer[Op]): Unit = {
    dropPass(lastPass)
    lastPass = i
    val (bm, ivf, mh) = names(i)
    val p = idx(i)
    op(ops, "build", "bm25", "operators.bm25.build")(Retrieval.writeBm25Index(
      docs.filter(col("doc_id") < base), "doc_id", "text", bm, s"$p/bm25", buckets = 8))
    op(ops, "build", "ivfadc", "operators.ivfadc.build")(Similarity.writeIvfadcIndex(
      vecs.filter(col("vec_id") < base), "vec_id", "embedding", ivf, s"$p/ivfadc",
      dim = dim, nlist = 16, m = 8, ks = 16, buckets = 8))
    op(ops, "build", "minhash", "operators.minhash.build")(Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") < base), "doc_id", "text", mh, s"$p/minhash", buckets = 4))
  }

  def round(i: Int, ops: mutable.ArrayBuffer[Op], c: mutable.Map[String, Double]): Unit = {
    val (bm, ivf, _) = names(i)
    val newDocs = docs.filter(col("doc_id") >= base)
    val newVecs = vecs.filter(col("vec_id") >= base)
    val appendedIn = newDocs.select(sum(length(col("text")))).head().getLong(0) +
      batch * dim * 4.0
    val before = indexBytes(i)
    op(ops, "append", "bm25", "operators.bm25.append")(
      Retrieval.appendBm25Index(spark, newDocs, "doc_id", "text", bm, buckets = 8))
    op(ops, "append", "ivfadc", "operators.ivfadc.append")(Similarity.appendIvfadcIndex(
      spark, newVecs, "vec_id", "embedding", ivf, dim = dim, m = 8, buckets = 8))
    c("write_amp") = (indexBytes(i) - before) / appendedIn
    op(ops, "delete", "bm25", "operators.bm25.delete")(
      Retrieval.deleteFromBm25Index(spark, bm, deleted, "doc_id"))
    val qt = qtexts.collect()
    val qv = qvecs.collect()
    for (q <- 0 until bm25Q) {
      val qs = qt.slice(q * qPerCall, (q + 1) * qPerCall).toSeq
        .map(x => (x.getLong(0), x.getString(1))).toDF("qid", "qtext")
      op(ops, "topk", "bm25", "operators.bm25.query")(
        Retrieval.bm25TopKIndexed(spark, bm, qs, "qid", "qtext", k = 10).collect())
    }
    for (q <- 0 until annQ) {
      val qs = spark.createDataFrame(spark.sparkContext.parallelize(
        qv.slice(q * qPerCall, (q + 1) * qPerCall).toSeq, 1), qvecs.schema)
      op(ops, "topk", "ivfadc", "operators.ivfadc.query")(Similarity.ivfadcTopKIndexed(
        spark, ivf, qs, "vec_id", "embedding", dim = dim, k = 10, nprobe = 4, m = 8).collect())
    }
  }

  def finish(i: Int, ops: mutable.ArrayBuffer[Op], c: mutable.Map[String, Double]): Unit = {
    val (bm, _, mh) = names(i)
    op(ops, "ingest", "minhash", "streaming.minhash_ingest") {
      val q = graft.streaming.EventStream.minhashDedupIngest(
        spark.readStream.schema(spark.read.parquet(s"$dir/arrivals").schema)
          .parquet(s"$dir/arrivals"),
        "doc_id", "text", mh, checkpoint = s"${idx(i)}/ckpt", buckets = 4)
      q.awaitTermination()
    }
    c("bucket_files") = dataFiles(i).toDouble
    op(ops, "compact", "bm25", "operators.bm25.compact")(Retrieval.compactBm25Index(spark, bm))
    c("bucket_files_compacted") = dataFiles(i).toDouble
    c("live_rows") = (2 * total - deleted.count()).toDouble
    c("index_bytes") = indexBytes(i).toDouble
  }

  /** Files the index tables read now (a compaction's staged swap may
    * move a table, so its catalog location is asked, not a fixed dir). */
  private def tableFiles(i: Int, tables: Seq[String]): Seq[File] = {
    val (bm, ivf, _) = names(i)
    tables.map(t => t.replace("bm25", bm).replace("ivfadc", ivf))
      .filter(spark.catalog.tableExists)
      .flatMap { t => spark.catalog.refreshTable(t); spark.table(t).inputFiles.toSeq }
      .map(u => new File(new java.net.URI(u)))
  }

  private def indexBytes(i: Int): Long =
    tableFiles(i, Seq("bm25", "bm25_dl", "bm25_stats", "bm25_tombstones", "ivfadc",
      "ivfadc_codebook", "ivfadc_centroids")).map(_.length).sum

  private def dataFiles(i: Int): Int = tableFiles(i, Seq("bm25", "ivfadc")).length

  private def dropPass(i: Int): Unit = if (i >= 0) {
    val (bm, ivf, mh) = names(i)
    spark.catalog.listTables().collect().map(_.name)
      .filter(t => Seq(bm, ivf, mh).exists(t.startsWith))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Files.rm(new File(idx(i)))
  }

  /** Indexed BM25 top-k after the churn equals `bm25TopK` over the live
    * corpus (catches stale N/avgdl as well as lost or resurrected docs);
    * the streaming trigger wrote one verdict per arrival; and the
    * IVFADC recall@10 against exact cosine top-10 goes to the record. */
  def check(c: mutable.Map[String, Double]): Seq[(String, Boolean, String)] = {
    val (bm, ivf, mh) = names(lastPass)
    val live = docs.join(deleted, Seq("doc_id"), "left_anti")
    val qs = qtexts.limit(8)
    val cols = Seq("qid", "doc_id", "rank").map(col) :+ functions.round(col("score"), 9).as("score")
    val got = Retrieval.bm25TopKIndexed(spark, bm, qs, "qid", "qtext", k = 10).select(cols: _*)
      .collect().map(_.toString).sorted.toSeq
    val want = Retrieval.bm25TopK(live, qs, "doc_id", "text", "qid", "qtext", k = 10)
      .select(cols: _*).collect().map(_.toString).sorted.toSeq
    val aq = qvecs.limit(10)
    val exact = Similarity.bruteForceTopK(vecs, aq, "vec_id", "embedding", 10)
      .select("qid", "nid").collect().toSet
    val approx = Similarity.ivfadcTopKIndexed(spark, ivf, aq, "vec_id", "embedding",
      dim = dim, k = 10, nprobe = 4, m = 8).select("qid", "nid").collect().toSet
    c("ann_recall_at_10") = (approx & exact).size.toDouble / exact.size
    val verdicts = spark.table(s"${mh}_verdicts").count()
    Seq(
      ("bm25_indexed_equals_exact", got == want && want.nonEmpty,
        s"rows=${want.size} differing=${(got.diff(want) ++ want.diff(got)).size}"),
      ("minhash_ingest_verdicts", verdicts == ingestDocs, s"verdicts=$verdicts"))
  }
}
