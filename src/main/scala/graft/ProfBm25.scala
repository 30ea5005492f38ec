package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.PersistedIndex

/** BM25 index-tier throughput at the 100×-mutated documents fixture
  * (the t24/ProfRelease construction: 500k unique docs at sf0.1) —
  * evidence for the round-14 claim that the PERSISTED inverted index
  * turns recurring retrieval from a per-query corpus re-tokenize into
  * a term-bucket-pruned postings probe:
  *
  *  - in-session `bm25TopK` per query batch (the r13 posture —
  *    replays the corpus term explode every call);
  *  - `writeBm25Index` once, then `bm25TopKIndexed` cold + warm;
  *  - an `appendBm25Index` batch (1% of the corpus, the daily-crawl
  *    shape) and the post-append query;
  *  - `deleteFromBm25Index` + query (decontamination retraction);
  *  - `compactBm25Index` (physical delete apply + layout restore).
  *
  * Prints `[bm25] ...` rows consumed into SCALING.md.
  */
object ProfBm25 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 100
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Retrieval

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // the ProfRelease 100×-mut fixture: copy c of each doc carries a
    // unique tail token — every doc unique, realistic shared term mass
    val fixture = s"/tmp/graft_relcap_${copies}xmut"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(fixture, "_SUCCESS"))) {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text"))
      val reps = spark.range(copies).select(col("id").as("copy"))
      docs.crossJoin(reps)
        .select((col("doc_id") + col("copy") * lit(1000000L)).as("doc_id"),
          col("source"),
          concat(col("text"), lit(" uniq"), col("copy"), lit("x"),
            col("doc_id")).as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(fixture)
      println(s"[bm25] fixture written: $fixture")
    }
    val docs = spark.read.parquet(fixture)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()
    println(s"[bm25] corpus docs: $nDocs")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("qtext"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[bm25] query batch: ${qs.count()} queries")

    // posture A: in-session — the corpus term explode replays per call
    for (i <- 1 to 2) {
      val (res, t) = timed {
        val r = Retrieval.bm25TopK(docs, qs, "doc_id", "text",
          "doc_id", "qtext", k = 10)
        val n = r.count(); r.unpersist(); n
      }
      println(f"[bm25] in-session bm25TopK call $i: $t%6.1f s ($res rows)")
    }

    // posture B: build once, probe forever
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-100x").toString
    val (_, tBuild) = timed {
      Retrieval.writeBm25Index(docs, "doc_id", "text",
        "bm25_100x", s"$tmp/idx", buckets = 32)
    }
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.length()).sum
    }
    println(f"[bm25] writeBm25Index: $tBuild%6.1f s " +
      f"(postings ${dirBytes(s"$tmp/idx") / 1e6}%.0f MB, " +
      f"raw ${dirBytes(fixture) / 1e6}%.0f MB)")
    def q(tag: String): Unit = {
      val (n1, t1) = timed {
        Retrieval.bm25TopKIndexed(spark, "bm25_100x", qs,
          "doc_id", "qtext", k = 10).count()
      }
      val (_, t2) = timed {
        Retrieval.bm25TopKIndexed(spark, "bm25_100x", qs,
          "doc_id", "qtext", k = 10).count()
      }
      println(f"[bm25] indexed query $tag%-16s cold=$t1%6.2f s warm=$t2%6.2f s ($n1 rows)")
    }
    q("fresh")

    // posture C: the daily crawl — append 1% new docs, query again
    val batch = docs.limit((nDocs / 100).toInt)
      .select((col("doc_id") + 200000000L).as("doc_id"), col("text"))
    val (_, tApp) = timed {
      Retrieval.appendBm25Index(spark, batch, "doc_id", "text",
        "bm25_100x", buckets = 32)
    }
    println(f"[bm25] appendBm25Index (1%% = ${nDocs / 100} docs): $tApp%6.1f s")
    q("after append")

    // posture D: decontamination retraction — delete 1% of docs
    val (_, tDel) = timed {
      Retrieval.deleteFromBm25Index(spark, "bm25_100x",
        docs.filter(col("doc_id") % 100 === 0).select("doc_id"), "doc_id")
    }
    println(f"[bm25] deleteFromBm25Index (1%%): $tDel%6.1f s")
    q("after delete")

    // posture E: maintenance — physical delete apply + layout restore
    val (_, tCmp) = timed {
      Retrieval.compactBm25Index(spark, "bm25_100x")
    }
    println(f"[bm25] compactBm25Index: $tCmp%6.1f s")
    q("after compact")

    // posture F: max-score pruning (r15) — the needle-in-stopwords
    // query every decontamination probe is: a rare discriminative
    // token (each doc's unique tail) among common terms whose posting
    // lists span most of the corpus. Unpruned, the common terms'
    // postings explode per query into the aggregate/window; pruned,
    // phase 1 certifies a floor from the rare term and the stopword
    // mass is semi-joined away before scoring.
    val qsMix = docs.filter(col("doc_id") < 3)
      .select(col("doc_id"),
        concat_ws(" ",
          concat_ws(" ", slice(split(col("text"), " "), 1, 4)),
          element_at(split(col("text"), " "), -1)).as("qtext"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    qsMix.count()
    for (i <- 1 to 2) {
      val ((nP, engaged), tP) = timed {
        val (df, ids) = Retrieval.bm25TopKIndexedPruned(spark,
          "bm25_100x", qsMix, "doc_id", "qtext", k = 1)
        (df.count(), ids.size)
      }
      val (nU, tU) = timed {
        Retrieval.bm25TopKIndexed(spark, "bm25_100x", qsMix,
          "doc_id", "qtext", k = 1, maxScore = false).count()
      }
      println(f"[bm25] max-score pass $i: pruned=$tP%6.2f s " +
        f"unpruned=$tU%6.2f s (engaged $engaged/3 queries, " +
        f"$nP%d == $nU%d rows)")
    }
    qsMix.unpersist()

    ("bm25_100x" +: Seq("dl", "stats", PersistedIndex.Tombstones)
        .map(PersistedIndex.sidecar("bm25_100x", _)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.stop()
  }
}
