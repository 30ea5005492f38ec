package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The lifecycle every persisted index family shares — IVF, IVFADC,
  * by-residual IVFADC, PQ and SQ8 ([[graft.operators.Similarity]]),
  * BM25 ([[graft.operators.Retrieval]]) and MinHash-LSH
  * ([[graft.operators.Dedup]]). A family owns its encode, assign and
  * score code and writes its primary table through [[Bucketing]]; this
  * module owns every decision about the tables around it:
  *
  *  - sidecar names and paths: `<table>_<suffix>`, stored beside the
  *    primary table's base path ([[sidecar]], [[basePath]]);
  *  - tombstones: a one-column `_tombstones` sidecar named after the
  *    family's row key, anti-joined out at query time
  *    ([[withoutDeleted]]), applied physically by [[compact]] and then
  *    truncated;
  *  - the [[GenProp]] generation stamp: set on the primary table and
  *    its model sidecar by [[build]], checked whenever an append or a
  *    query reads a model sidecar ([[readModel]]);
  *  - the stamped staged two-swap retrain and rebalance use
  *    ([[stageTwoSwap]], [[commitTwoSwap]], [[retrain]]);
  *  - the maintenance tiers ([[maintain]]);
  *  - the build-time reset of stale lifecycle sidecars ([[build]]);
  *  - append-or-create sidecar writes ([[appendSidecar]]);
  *  - the `foreachBatch` ingest with its applied-batch ledger and
  *    `compactEvery` ([[ingest]], [[applyOnce]]).
  *
  * Every multi-commit operation lists its commit points in its doc, so
  * a crash at each one can be injected here, in one file.
  */
object PersistedIndex {

  /** Lifecycle sidecar suffixes. */
  private[graft] val Tombstones = "tombstones"
  private[graft] val Batches = "batches"
  private[graft] val Verdicts = "verdicts"

  /** Catalog table property carrying the model-artifact generation
    * stamp — set on BOTH an index's primary table and its model
    * sidecar, always to the same value by any completed build or
    * retrain. A property, not a column, so the stamp travels IN the
    * same catalog `alterTable` that swaps the data location: there is
    * no instant at which a swapped artifact carries the wrong
    * generation. */
  private val GenProp = "graft.model.gen"

  /** The catalog name of `table`'s `suffix` sidecar. */
  private[graft] def sidecar(table: String, suffix: String): String =
    s"${table}_$suffix"

  private def meta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The primary table's base data path — its current location with the
    * compaction ping-pong suffix stripped, so sidecars written after a
    * [[compact]] land beside the original artifacts. */
  private[graft] def basePath(spark: SparkSession, table: String): String =
    meta(spark, table).location.toString.stripSuffix("/")
      .replaceAll("__c[12]$", "")

  /** Overwrite `table`'s `suffix` sidecar at `<path>_<suffix>` — the
    * build-time write of a model or statistics sidecar. */
  private[graft] def writeSidecar(df: DataFrame, table: String,
                                  path: String, suffix: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .option("path", s"${path}_$suffix").saveAsTable(sidecar(table, suffix))

  /** Append `df` to `table`'s `suffix` sidecar, creating it beside the
    * primary table's [[basePath]] on first use (tombstones, the
    * `_batches` ledger, `_verdicts`, BM25's `_dl`). */
  private[graft] def appendSidecar(df: DataFrame, table: String,
                                   suffix: String): Unit = {
    val spark = df.sparkSession
    if (spark.catalog.tableExists(sidecar(table, suffix)))
      df.write.mode("append").format("parquet")
        .saveAsTable(sidecar(table, suffix))
    else writeSidecar(df, table, basePath(spark, table), suffix)
  }

  // ---- build and generation stamps -----------------------------------

  /** A fresh build of `table`. First the lifecycle sidecars of the
    * previous generation are dropped: a fresh build carries no pending
    * deletes, and a rebuilt index fed by a new stream restarts batch
    * ids at 0 — a stale `_batches` ledger would skip its first appends
    * and stale `_verdicts` would feed kept ids of the old corpus into
    * the next batch's accepted set. The drops are catalog-only; the next
    * writer at the same path reclaims the files with an overwrite. Then
    * `write` writes the primary table and its sidecars, the primary and
    * its `model` sidecar (when the family stamps one) get one new
    * [[GenProp]] generation, and the session re-reads the table. Builds
    * are blunt overwrites, not claimed crash-safe. */
  private[graft] def build(spark: SparkSession, table: String,
                           model: Option[String] = None)(write: => Unit): Unit = {
    Seq(Tombstones, Batches, Verdicts).foreach { s =>
      spark.sessionState.catalog.dropTable(
        spark.sessionState.sqlParser.parseTableIdentifier(sidecar(table, s)),
        ignoreIfNotExists = true, purge = false)
    }
    write
    model.foreach { m =>
      val gen = newGen()
      setGen(spark, table, gen)
      setGen(spark, sidecar(table, m), gen)
    }
    spark.catalog.refreshTable(table)
  }

  private def newGen(): String = java.util.UUID.randomUUID().toString

  private def setGen(spark: SparkSession, table: String, gen: String): Unit = {
    val m = meta(spark, table)
    spark.sessionState.catalog.alterTable(
      m.copy(properties = m.properties + (GenProp -> gen)))
  }

  private def genOf(spark: SparkSession, table: String): Option[String] =
    meta(spark, table).properties.get(GenProp)

  /** Read `table`'s `suffix` model sidecar — failing LOUD instead of
    * silently wrong when an interrupted two-swap left the primary and
    * the sidecar at different generations (new centroids probed
    * against old assignments return short or empty results, worse than
    * stale). The re-run of the maintenance op repairs it. Unstamped
    * artifacts (families without a stamped model, legacy tables) skip
    * the check. */
  private[graft] def readModel(spark: SparkSession, table: String,
                               suffix: String): DataFrame = {
    val name = sidecar(table, suffix)
    for (tg <- genOf(spark, table); sg <- genOf(spark, name))
      require(tg == sg,
        s"index $table is mid-maintenance: its rows are generation " +
          s"$tg but $name is generation $sg — an interrupted " +
          "rebalance/rebuild left the two artifacts inconsistent; " +
          "re-run the maintenance op to repair before querying")
    Bucketing.readBucketed(spark, name)
  }

  // ---- tombstones ------------------------------------------------------

  /** `table`'s pending tombstones, if any — None when the sidecar is
    * absent or empty, so never-deleted indexes keep their exact plans.
    * Costs one `isEmpty` job when the sidecar exists. */
  private def tombstones(spark: SparkSession,
                         table: String): Option[DataFrame] = {
    val name = sidecar(table, Tombstones)
    if (!spark.catalog.tableExists(name)) None
    else Some(spark.table(name)).filterNot(_.isEmpty)
  }

  /** Anti-join a tombstone set out of `df` on its one (key) column. The
    * tombstones broadcast (deletes between compactions, not the corpus)
    * and the join sits ABOVE the scan filters, so bucket pruning and
    * pushed predicates are undisturbed. */
  private def antiJoin(df: DataFrame, tomb: DataFrame): DataFrame =
    df.join(broadcast(tomb), tomb.columns.toSeq, "left_anti")

  /** The query-time half of [[delete]]: `df` without `table`'s pending
    * tombstones (untouched when there are none). */
  private[graft] def withoutDeleted(spark: SparkSession, table: String,
                                    df: DataFrame): DataFrame =
    tombstones(spark, table).fold(df)(antiJoin(df, _))

  /** Mark rows of `table` deleted: the distinct `ids` (renamed to the
    * family's row `key`) append to the `_tombstones` sidecar — one
    * commit. Queries anti-join them out from then on; the next
    * [[compact]] applies them physically. A family whose scoring model
    * also depends on the deleted rows re-derives it AFTER this commit,
    * in a second one (BM25's `_stats`): a crash between the two leaves
    * the tombstone committed and the old model in place, a window the
    * ROADMAP's failpoint item is to pin. */
  private[graft] def delete(table: String, ids: DataFrame, idCol: String,
                            key: String): Unit =
    appendSidecar(ids.select(col(idCol).as(key)).distinct(), table,
      Tombstones)

  /** Reset a physically applied tombstone set to empty (same schema,
    * same sidecar path), so later queries pay no anti-join. */
  private def truncateTombstones(spark: SparkSession, table: String): Unit = {
    val name = sidecar(table, Tombstones)
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
        spark.table(name).schema)
      .write.mode("overwrite").format("parquet")
      .option("path", meta(spark, name).location.toString.stripSuffix("/"))
      .saveAsTable(name)
  }

  /** Compact the bucketed primary table back to one file per bucket
    * ([[Bucketing.compactBucketed]]) and apply pending tombstones
    * physically: they anti-join out of the rewrite — and out of the
    * staged rewrite of each id-keyed `alongside` sidecar (BM25's `_dl`)
    * — and the tombstone set then truncates. Commit points: the primary
    * swap, each sidecar swap, the truncate. A crash before the truncate
    * leaves tombstones that match nothing, which the next compaction
    * clears. */
  private[graft] def compact(spark: SparkSession, table: String,
                             alongside: Seq[String] = Nil): Unit =
    tombstones(spark, table) match {
      case Some(t) =>
        Bucketing.compactBucketed(spark, table, antiJoin(_, t))
        alongside.foreach(s => Bucketing.rewriteTable(spark,
          sidecar(table, s), antiJoin(_, t)))
        truncateTombstones(spark, table)
      case None => Bucketing.compactBucketed(spark, table)
    }

  // ---- maintenance -----------------------------------------------------

  /** Max data files in any one bucket of the table's CURRENT location
    * — the layout-decay readout (the bucket id is the `_NNNNN` suffix
    * Spark's bucketed writer puts before `.c000`). One driver-side
    * directory listing. */
  private def maxFilesPerBucket(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(meta(spark, table).location)
    val bucketId = "_(\\d{5})\\.c".r
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(loc).map(_.getPath.getName)
      .flatMap(n => bucketId.findFirstMatchIn(n).map(_.group(1)))
      .groupBy(identity).values.map(_.length).maxOption.getOrElse(0)
  }

  /** The maintenance tiers, cheapest first to decide:
    *
    *  - `rebalance` given (the family's skew readout crossed its bound)
    *    → run it: retrain + rewrite + swap, a build-shaped job;
    *  - else, the layout decayed (> one file in some bucket — every
    *    append batch adds a file per bucket) or deletes pend →
    *    [[compact]] with `alongside` (deletes ride the rewrite free);
    *  - else → NO-OP: a healthy tick costs one directory listing and
    *    one tombstone check, not a rewrite.
    *
    * Returns the action taken with the family's `observed` readout, so
    * a scheduler can log the decision. */
  private[graft] def maintain(spark: SparkSession, table: String,
                              alongside: Seq[String] = Nil,
                              rebalance: Option[() => Unit] = None,
                              observed: String = ""): String = {
    val obs = if (observed.isEmpty) "" else s"; $observed"
    rebalance match {
      case Some(run) =>
        run()
        s"rebalanced ($observed)"
      case None if maxFilesPerBucket(spark, table) > 1 ||
                   tombstones(spark, table).nonEmpty =>
        compact(spark, table, alongside)
        s"compacted (layout decayed or deletes pending$obs)"
      case None => s"healthy (minimal layout, no pending deletes$obs)"
    }
  }

  // ---- the stamped staged two-swap --------------------------------------

  /** Phase 1 of a retrain or rebalance: swap the `model` sidecar to
    * `newModel` together with a new [[GenProp]] stamp (one catalog op,
    * [[Bucketing.rewriteTable]]), then stage the primary table's
    * `rewrite` ([[Bucketing.stageCompaction]]) without committing it.
    * Returns the new generation. A crash after the sidecar swap leaves
    * the two artifacts at different generations, which [[readModel]]
    * refuses loudly until the op re-runs. */
  private[graft] def stageTwoSwap(spark: SparkSession, table: String,
                                  model: String, newModel: DataFrame,
                                  rewrite: DataFrame => DataFrame): String = {
    val gen = newGen()
    Bucketing.rewriteTable(spark, sidecar(table, model), _ => newModel,
      Map(GenProp -> gen))
    Bucketing.stageCompaction(spark, table, rewrite)
    gen
  }

  /** Phase 2: commit the staged primary with the same stamp — data and
    * stamp flip in one catalog op. */
  private[graft] def commitTwoSwap(spark: SparkSession, table: String,
                                   gen: String): Unit =
    Bucketing.swapToStaged(spark, table, Map(GenProp -> gen))

  /** Retrain `table` from `raw`, the id-keyed store a deployment keeps
    * beside the index: pending tombstones are excluded before `train`
    * sees it, `train` returns the new `model` rows and the primary's
    * rewrite, the two swap as [[stageTwoSwap]] + [[commitTwoSwap]], and
    * the tombstones — now applied physically — truncate. */
  private[graft] def retrain(spark: SparkSession, table: String,
                             model: String, raw: DataFrame)
                            (train: DataFrame => (DataFrame, DataFrame => DataFrame)): Unit = {
    val tomb = tombstones(spark, table)
    val (newModel, rewrite) = train(tomb.fold(raw)(antiJoin(raw, _)))
    commitTwoSwap(spark, table,
      stageTwoSwap(spark, table, model, newModel, rewrite))
    if (tomb.nonEmpty) truncateTombstones(spark, table)
  }

  // ---- streaming ingest --------------------------------------------------

  /** Run `apply` exactly once per (table, scope, batchId): foreachBatch
    * is at-least-once — a failure between the index append and the
    * checkpoint commit redelivers the batch on restart, which would
    * duplicate index rows. Applied ids are recorded in the `_batches`
    * ledger, checked BEFORE applying, so a redelivered id is a no-op.
    * Returns whether the batch applied (false = redelivery or empty
    * batch).
    *
    * The key is SCOPED by the stream's checkpoint path: Structured
    * Streaming numbers each query's batches from 0, so a bare batch id
    * collides the moment a second stream feeds the same table; the
    * checkpoint is the identity that owns that numbering. Rebuilds drop
    * the ledger ([[build]]). Commit points: the apply, then the one-row
    * ledger write — a crash between them re-applies the batch on
    * restart, the residual gap of any non-transactional two-table
    * commit (Spark's foreachBatch docs prescribe this batch-id dedup;
    * a transactional store is the upgrade path). */
  private[graft] def applyOnce(batch: DataFrame, batchId: Long, scope: String,
                               table: String)(apply: SparkSession => Unit): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    import spark.implicits._
    val ledger = sidecar(table, Batches)
    val applied = spark.catalog.tableExists(ledger) &&
      !spark.table(ledger)
        .filter(col("scope") === scope && col("batch_id") === batchId)
        .isEmpty
    if (!applied) {
      apply(spark)
      appendSidecar(Seq((scope, batchId)).toDF("scope", "batch_id"), table,
        Batches)
    }
    !applied
  }

  /** The recurring-crawl ingest: an AvailableNow `foreachBatch` stream
    * whose `apply` (an [[applyOnce]]-guarded append) runs per
    * micro-batch. Every `compactEvery`-th APPLIED batch (counted from
    * this stream's rows of the `_batches` ledger — deterministic under
    * redelivery, which never applies) runs the family's `compactWith`
    * (its [[compact]]); without it an ingest stream decays its own
    * bucket-pruned layout by one file per bucket per trigger. The
    * compaction is the crash-safe staged swap, so queries between
    * triggers stay consistent, and the ledger — its own table —
    * survives it. 0 disables (the operator owns the cadence). */
  private[graft] def ingest(stream: DataFrame, table: String,
                            checkpoint: String, compactEvery: Int = 0,
                            compactWith: SparkSession => Unit = _ => ())
                           (apply: (DataFrame, Long) => Boolean): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (apply(batch, id) && compactEvery > 0) {
          val spark = batch.sparkSession
          val applied = spark.table(sidecar(table, Batches))
            .filter(col("scope") === checkpoint).count()
          if (applied % compactEvery == 0) compactWith(spark)
        }
      }
      .start()
}
