package graft

import java.nio.file.Files

import graft.engine.PersistedIndex
import graft.engine.PersistedIndex.{Batches, Tombstones, Verdicts, sidecar}
import graft.operators.{Dedup, Retrieval, Similarity}
import graft.streaming.EventStream

/** The shared persisted-index lifecycle, driven once per index family:
  * a rebuild must reset every lifecycle sidecar the previous generation
  * left behind — the `_batches` ledger, pending `_tombstones`, the
  * MinHash ingest's `_verdicts` — so that a stream restarted at the same
  * checkpoint path applies its batch 0 against the new index instead of
  * skipping it as already applied. */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
  private lazy val vecBatch = emb.filter($"vec_id" >= 250 && $"vec_id" < 300)
  private lazy val docBatch = docs.filter($"doc_id" >= 250 && $"doc_id" < 300)

  /** One index family: its build over the first 250 rows, its append of
    * the 50-row batch through the applied-batch ledger (returns whether
    * the batch applied), and its delete when the family has one. */
  private final case class Family(name: String,
                                  build: (String, String) => Unit,
                                  applyOnce: (String, Long, String) => Boolean,
                                  delete: Option[String => Unit])

  private def vecLedger(append: String => Unit)
                       (table: String, id: Long, scope: String): Boolean =
    PersistedIndex.applyOnce(vecBatch, id, scope, table)(_ => append(table))

  private val deleteVecs: Option[String => Unit] = Some(t =>
    Similarity.deleteFromIndex(spark, t,
      emb.filter($"vec_id" < 5).select("vec_id"), "vec_id"))

  private val families = Seq(
    Family("ivf",
      (t, p) => Similarity.writeIvfIndex(emb.filter($"vec_id" < 250),
        "vec_id", "embedding", t, p, nlist = 8, buckets = 4),
      vecLedger(t => Similarity.appendIvfIndex(spark, vecBatch, "vec_id",
        "embedding", t, buckets = 4)),
      deleteVecs),
    Family("ivfadc",
      (t, p) => Similarity.writeIvfadcIndex(emb.filter($"vec_id" < 250),
        "vec_id", "embedding", t, p, dim = 64, nlist = 8, m = 4, ks = 16,
        buckets = 4),
      vecLedger(t => Similarity.appendIvfadcIndex(spark, vecBatch,
        "vec_id", "embedding", t, dim = 64, m = 4, buckets = 4)),
      deleteVecs),
    Family("ivfadc_residual",
      (t, p) => Similarity.writeIvfadcResidualIndex(
        emb.filter($"vec_id" < 250), "vec_id", "embedding", t, p,
        dim = 64, nlist = 8, m = 4, ks = 16, buckets = 4),
      vecLedger(t => Similarity.appendIvfadcResidualIndex(spark, vecBatch,
        "vec_id", "embedding", t, dim = 64, m = 4, buckets = 4)),
      deleteVecs),
    Family("pq",
      (t, p) => Similarity.writePqIndex(emb.filter($"vec_id" < 250),
        "vec_id", "embedding", t, p, dim = 64, m = 4, ks = 16, buckets = 4),
      (t, id, scope) => EventStream.idempotentPqAppend(vecBatch, id, scope,
        "vec_id", "embedding", t, dim = 64, m = 4, buckets = 4),
      deleteVecs),
    Family("sq8",
      (t, p) => Similarity.writeSq8Index(emb.filter($"vec_id" < 250),
        "vec_id", "embedding", t, p, dim = 64, buckets = 4),
      vecLedger(t => Similarity.appendSq8Index(spark, vecBatch, "vec_id",
        "embedding", t, dim = 64, buckets = 4)),
      deleteVecs),
    Family("bm25",
      (t, p) => Retrieval.writeBm25Index(docs.filter($"doc_id" < 250),
        "doc_id", "text", t, p, buckets = 4),
      (t, id, scope) => EventStream.idempotentBm25Append(docBatch, id,
        scope, "doc_id", "text", t, buckets = 4),
      Some(t => Retrieval.deleteFromBm25Index(spark, t,
        docs.filter($"doc_id" < 5).select("doc_id"), "doc_id"))),
    Family("minhash",
      (t, p) => Dedup.writeMinhashIndex(docs.filter($"doc_id" < 250),
        "doc_id", "text", t, p, buckets = 4),
      (t, id, scope) => EventStream.idempotentMinhashDedup(docBatch, id,
        scope, "doc_id", "text", t, numPerm = 32, bands = 8,
        threshold = 0.5, shingleN = 3, family = "xxhash64", buckets = 4),
      None))

  families.foreach { f =>
    test(s"${f.name}: a rebuild resets the lifecycle sidecars and batch 0 applies again") {
      val dir = Files.createTempDirectory(s"graft-pi-${f.name}").toString
      val table = s"graft_pi_${f.name}"
      val scope = s"$dir/ckpt"
      val lifecycle = Seq(Batches, Tombstones, Verdicts).map(sidecar(table, _))
      try {
        f.build(table, s"$dir/idx")
        assert(f.applyOnce(table, 0L, scope), "first batch 0 did not apply")
        assert(!f.applyOnce(table, 0L, scope), "redelivered batch 0 re-applied")
        f.delete.foreach(_(table))
        assert(spark.catalog.tableExists(sidecar(table, Batches)))
        assert(f.delete.isEmpty ||
          !spark.table(sidecar(table, Tombstones)).isEmpty)
        // rebuild at the same path, as a recurring crawl does
        f.build(table, s"$dir/idx")
        val stale = lifecycle.filter(spark.catalog.tableExists)
        assert(stale.isEmpty, s"rebuild left stale sidecars: $stale")
        val rows = spark.table(table).count()
        assert(f.applyOnce(table, 0L, scope),
          "post-rebuild batch 0 was skipped as already applied")
        assert(spark.table(table).count() > rows,
          "post-rebuild batch 0 added no index rows")
        // the MinHash ingest's verdicts now hold this batch only
        lifecycle.filter(t => t.endsWith(Verdicts) && spark.catalog.tableExists(t))
          .foreach(v => assert(spark.table(v).count() == docBatch.count()))
      } finally {
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(table))
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }
  }
}
