package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.core.{CurieMap, Triple, Vocab}
import graft.emit.{Association, DatasetMeta, Feature, Model}
import graft.sinks.TripleSinks
import graft.core.Digest

/** The `dipper-etl.py` equivalent: pick sources, apply limit / taxon /
  * test-only filters, run each source's declarative plan, write the
  * requested serializations, the HCLS/VoID dataset-metadata graph, the
  * test-subset graph, and the property-axiom post-pass (SURVEY §3.1
  * lifecycle, steps 2-6; step 3's network fetch is out of scope in this
  * hermetic build).
  *
  * Each source is released in a single pass ([[release]]): its transform
  * runs once into a cached set-distinct relation, one aggregate over
  * that cache yields the triple count, the property axioms and the used
  * prefixes, and the sinks then write concurrently from the cache.
  */
object Runner {

  /** Formats follow the reference's serialization map
    * (dipper/sources/Source.py:192-198 + dipper-etl.py `--dest_fmt`):
    * nt, nquads, turtle, n3, rdfxml — plus `streamed_nt`, the
    * `-g streamed_graph` twin (Source.py:118-121): triples land
    * incrementally through the Structured Streaming NT sink instead of
    * one batch write, the mode a continuous-ingest deployment runs. */
  final case class RunConfig(
      sources: Seq[String],
      outDir: String,
      limit: Option[Int] = None,
      testOnly: Boolean = false,
      destFmt: Seq[String] = Seq("nt"),
      taxa: Seq[String] = Nil,
      version: String = "2026-08",
      // retrievedOn stamp for the dataset-metadata graph. None = today
      // (the reference's provenance semantics, Source.py declareSource);
      // pin it for byte-identical reproducible-output deployments.
      asOfDate: Option[String] = None)

  /** Registered sources (source_to_class_map, dipper-etl.py:20-62). */
  val registry: Map[String, GraftSource] = Seq(
    NationClassSource, OrderAssocSource, PartFeatureSource,
    DiseasePhenotypeSource, ChemDiseaseSource, StringInteractionsSource,
    ZfinGenotypeSource, OmiaPheneSource, MgiGenotypeSource, OmimApiSource,
    BgeeSource, UcscBandsSource, UdpSource, GwasCatalogSource, PantherSource,
    GoGafSource, ImpcSource, OrphanetSource, BiogridSource, MpdSource,
    OmiaSource, NcbiGeneSource, KeggSource, MyChemSource, HgncSource,
    ReactomeSource, EbiG2PSource, RgdSource, ZfinSlimSource, MgiSlimSource,
    SgdSource, MonarchSource, GeneReviewsSource, EomSource,
    MyDrugSource, EnsemblSource, XenbaseSource, CoriellSource,
    MmrrcSource, MonochromSource, AnimalQtlSource, FlyBaseSource,
    WormBaseSource, ZfinFishSource
  ).map(s => s.name -> s).toMap

  /** A cross-source augmentation: when one run includes every source in
    * `requires`, `derive` computes extra triples from the sources' INPUT
    * relations and OUTPUT graphs and they land in `target`'s graph —
    * the reference's in-parse composition pattern, where OMIA hands its
    * annotated-gene set to NCBIGene's ortholog builder
    * (OMIA.py:170-172 → NCBIGene.py:676-769). Runner-level rather than
    * source-level so each source stays solo-runnable and the composed
    * graph only pays the join when both sides are actually in the run. */
  final case class Augmentation(
      name: String,
      requires: Set[String],
      target: String,
      derive: (SparkSession, Map[String, Map[String, DataFrame]],
               Map[String, DataFrame]) => DataFrame)

  val augmentations: Seq[Augmentation] = Seq(
    Augmentation("omia_ncbi_orthologs", Set("omia", "ncbi_gene"), "omia",
      (spark, inputs, outputs) => {
        // annotated_genes = the affected-locus gene objects of OMIA's
        // OUTPUT graph (OMIA.py:679) — a join across source outputs
        val annotated = outputs("omia")
          .filter(col("p") === graft.core.Vocab.hasAffectedLocus &&
            col("o").startsWith("NCBIGene:"))
          .select(col("o").as("gene"))
          .distinct()
        NcbiGeneSource.orthologTriples(spark, annotated,
          inputs("ncbi_gene")("gene_group"))
      }))

  /** Sinks serialize through the production-size prefix map (the
    * reference runs every ingest with its full curie_map.yaml). */
  val curieMap: CurieMap = CurieMap.full

  /** One released source. `materializeS` and `sinksS` are the walls of
    * [[release]]'s two phases: the set-dedup + aggregate that runs the
    * transform, and the concurrent sink writes. */
  final case class SourceResult(name: String, triples: Long, outPath: String,
                                materializeS: Double = 0.0, sinksS: Double = 0.0)

  def run(spark: SparkSession, cfg: RunConfig, dataDir: String): Seq[SourceResult] = {
    val unknown = cfg.sources.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown sources: ${unknown.mkString(",")}")
    val badFmt = cfg.destFmt.filterNot(
      Set("nt", "nquads", "turtle", "n3", "rdfxml", "streamed_nt"))
    require(badFmt.isEmpty, s"unknown dest_fmt: ${badFmt.mkString(",")}")
    // stage 1: declare every source's plan (all lazy)
    val prepared = cfg.sources.map { name =>
      val src = registry(name)
      val inputs0 = src.read(spark, dataDir)
      // --limit N: pushed into every input scan (Catalyst CollectLimit)
      val inputs = cfg.limit match {
        case Some(n) => inputs0.view.mapValues(_.limit(n)).toMap
        case None => inputs0
      }
      var triples = src.transform(spark, inputs, cfg.taxa)
      if (cfg.testOnly && src.testIds.nonEmpty)
        triples = triples.filter(col("s").isin(src.testIds: _*))
      (name, src, inputs, triples)
    }
    // stage 2: cross-source augmentations. An output a derive consumes
    // is ALSO written as its own graph, so those frames are persisted —
    // the transform DAG (an XML dump scan at production scale) runs once,
    // not once per consumer.
    val applicable = augmentations.filter(_.requires.subsetOf(cfg.sources.toSet))
    val shared = applicable.flatMap(a => a.requires + a.target).toSet
    val outMap = prepared.map { case (n, _, _, t) =>
      n -> (if (shared(n)) t.persist(StorageLevel.MEMORY_AND_DISK) else t)
    }.toMap
    val inMap = prepared.map { case (n, _, i, _) => n -> i }.toMap
    try cfg.sources.map { name =>
      val src = registry(name)
      val extra = applicable.filter(_.target == name)
        .map(_.derive(spark, inMap, outMap))
      val triples = extra.foldLeft(outMap(name))(_ unionByName _)
      val spark2 = spark
      import spark2.implicits._
      val meta = DatasetMeta.describe(s"EX:ds/$name", name, cfg.version,
        s"file://$dataDir",
        cfg.asOfDate.getOrElse(java.time.LocalDate.now.toString)).toDF()
      release(spark, name, triples.toDF(), meta, cfg,
        if (cfg.testOnly) Nil else src.testIds)
    } finally shared.foreach(n => outMap(n).unpersist(blocking = false))
  }

  /** Release one source: its graph `triples` ∪ its dataset-metadata
    * graph `meta` ∪ one `rdf:type owl:*Property` axiom per predicate of
    * `triples`, set-distinct, written as every `cfg.destFmt` plus (for
    * non-empty `testIds`) the test-subset NT. The transform DAG behind
    * `triples` runs once:
    *
    *  1. `triples ∪ meta` is set-deduped in one aggregation that keeps
    *     whether a row came from the source graph, and persisted.
    *  2. One aggregate over the cached rows yields the distinct count,
    *     the source's predicates with their axiom class, the axiom rows
    *     already present and the used CURIE prefixes. The missing axioms
    *     become a driver-side relation unioned onto the cached rows, so
    *     the released relation is set-distinct without another dedup.
    *  3. The sinks read that relation as already distinct, with the
    *     prefix list as given, concurrently — one thread per sink.
    *
    * Kept on measurement: `perfbench/run.py --workload etl_release`
    * (4-core host, local[4], WormBase + order_assocs at sf0.002, seeds
    * 11-20), 10 alternating cold-JVM pairs against the body this replaced
    * (the transform evaluated twice — once under `axiomTriples` — then
    * count, NT, Turtle with its own prefix query, and the test subset run
    * one after another): `wall_s` median 16.61 → 11.39 s (parent IQR
    * 0.89 s; the change won 10/10 pairs), `cpu_s` 32.2 → 26.9 s. A
    * WormBase run takes 15 jobs instead of 18 (plans/r17/).
    */
  def release(spark: SparkSession, name: String, triples: DataFrame,
              meta: DataFrame, cfg: RunConfig, testIds: Seq[String]): SourceResult = {
    val t0 = System.nanoTime()
    val key = Seq("s", "p", "o", "lit", "dt").map(col)
    // persisted, not localCheckpointed: the lineage stays, so the cache
    // is cluster-safe under executor loss
    val rows = triples.select(key :+ lit(true).as("src"): _*)
      .union(meta.select(key :+ lit(false).as("src"): _*))
      .groupBy(key: _*).agg(max(col("src")).as("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val isAxiom = col("p") === Vocab.a && !col("lit") && col("dt").isNull &&
        col("o") === PropertyAxioms.classOf(col("s"))
      val agg = rows.agg(count(lit(1)),
        collect_set(when(col("src"), struct(col("p"), PropertyAxioms.classOf(col("p"))))),
        collect_set(when(isAxiom, col("s"))),
        flatten(array(TripleSinks.termPrefixes.map(collect_set): _*))).head()
      val present = agg.getSeq[String](2).toSet
      val axioms = agg.getSeq[Row](1).map(r => (r.getString(0), r.getString(1)))
        .filterNot { case (p, _) => present(p) }
        .map { case (p, cls) => Triple.res(p, Vocab.a, cls) }
      val prefixes = TripleSinks.bindPrefixes(agg.getSeq[String](3).toSet ++
        axioms.flatMap(t => Seq(t.s, t.p, t.o).flatMap(TripleSinks.prefixOf)), curieMap)
      val full = rows.select(key: _*).union(spark.createDataFrame(axioms).select(key: _*))
      val t1 = System.nanoTime()
      val out = s"${cfg.outDir}/$name.nt"
      val sinks: Seq[(String, () => Unit)] = cfg.destFmt.distinct.map { fmt =>
        fmt -> (() => fmt match {
          case "nt"     => TripleSinks.writeDistinctNt(full, out, curieMap)
          case "nquads" => TripleSinks.writeDistinctNq(full, lit(s"EX:graph/$name"),
                             s"${cfg.outDir}/$name.nq", curieMap)
          case "turtle" => TripleSinks.writeDistinctTurtle(full, prefixes,
                             s"${cfg.outDir}/$name.ttl")
          case "n3"     => TripleSinks.writeDistinctTurtle(full, prefixes,
                             s"${cfg.outDir}/$name.n3")
          case "rdfxml" => TripleSinks.writeDistinctRdfXml(full, prefixes,
                             s"${cfg.outDir}/$name.xml", curieMap)
          case "streamed_nt" => streamNt(spark, full, name, cfg.outDir)
        })
      } ++ (if (testIds.isEmpty) Nil else Seq("test_subset" -> (() =>
        TripleSinks.writeDistinctNt(full.filter(col("s").isin(testIds: _*)),
          s"${cfg.outDir}/${name}_test.nt", curieMap))))
      runConcurrently(name, sinks)
      SourceResult(name, agg.getLong(0) + axioms.size, out,
        (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally rows.unpersist(blocking = false)
  }

  /** Streamed-graph mode: stage the triple relation, then drive the
    * streaming NT sink over it with an AvailableNow trigger — the same
    * incremental path a continuous ingest uses, run to completion here
    * (per-batch append, no driver materialization). The stream sink
    * itself appends, so mirror the overwrite semantics of the batch
    * formats by clearing the checkpoint and prior output first: an
    * overwrite of the stage dir renames its part files, which a kept
    * checkpoint would treat as brand-new input and append a duplicate
    * copy. */
  private def streamNt(spark: SparkSession, full: DataFrame, name: String,
                       outDir: String): Unit = {
    val stage = s"$outDir/_stream/$name.stage"
    val ckpt = s"$outDir/_stream/$name.ckpt"
    val streamOut = s"$outDir/$name.stream.nt"
    Seq(ckpt, streamOut).foreach { p =>
      val fp = new org.apache.hadoop.fs.Path(p)
      val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(fp, true)
    }
    full.write.mode("overwrite").parquet(stage)
    val q = graft.streaming.EventStream.streamTriplesToNt(
      spark.readStream.schema(full.schema).parquet(stage),
      streamOut, ckpt, curieMap)
    q.awaitTermination()
  }

  /** Run each labelled sink on its own thread and wait for all of them.
    * The threads are spawned here, from the caller, so Spark's
    * inheritable local properties (job group, scheduler pool) carry
    * over. A failed sink does not cancel the others: once every sink
    * has finished, the first failure (in sink order) is rethrown with
    * the rest attached as suppressed. */
  private def runConcurrently(name: String, sinks: Seq[(String, () => Unit)]): Unit = {
    val errors = new Array[Throwable](sinks.length)
    val threads = sinks.zipWithIndex.map { case ((label, write), i) =>
      val t = new Thread(() => try write() catch { case e: Throwable => errors(i) = e },
        s"graft-sink-$name-$label")
      t.start()
      t
    }
    threads.foreach(_.join())
    errors.filter(_ != null).toList match {
      case first :: rest => rest.foreach(first.addSuppressed); throw first
      case Nil =>
    }
  }

  /** CLI twin of `dipper-etl.py` (arg surface: dipper-etl.py:64-128).
    * Usage:
    * {{{
    * runMain graft.engine.Runner --sources nation_classes,order_assocs \
    *   --data /root/testdata/sf0.001 --out /tmp/graft_out \
    *   [--limit N] [--test_only] [--taxon 9606,10090] \
    *   [--dest_fmt nt,nquads,turtle,n3,rdfxml,streamed_nt] [--data_release_version V]
    *   [--as_of_date YYYY-MM-DD]
    * }}} */
  /** Parse the CLI surface into (config, dataDir) — public for tests. */
  def parseArgs(args: Seq[String]): (RunConfig, String) = {
    def parse(as: List[String], acc: Map[String, String]): Map[String, String] =
      as match {
        case Nil => acc
        case ("--test_only" | "-o") :: rest => parse(rest, acc + ("test_only" -> "1"))
        case k :: v :: rest if k.startsWith("-") =>
          parse(rest, acc + (k.dropWhile(_ == '-') -> v))
        case other :: _ =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    val a = parse(args.toList, Map())
    def list(k: String): Seq[String] =
      a.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val sources = (list("sources") ++ list("s")).distinct
    require(sources.nonEmpty, "--sources is required (comma-separated; see Runner.registry)")
    val cfg = RunConfig(
      sources = sources,
      outDir = a.getOrElse("out", "/tmp/graft_out"),
      limit = a.get("limit").orElse(a.get("l")).map(_.toInt),
      testOnly = a.contains("test_only"),
      destFmt = { val f = list("dest_fmt"); if (f.isEmpty) Seq("nt") else f },
      taxa = list("taxon") ++ list("t"),
      version = a.getOrElse("data_release_version",
        a.getOrElse("d", java.time.LocalDate.now.toString)),
      asOfDate = a.get("as_of_date"))
    (cfg, a.getOrElse("data", "/root/testdata/sf0.001"))
  }

  def main(args: Array[String]): Unit = {
    val (cfg, dataDir) = parseArgs(args.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = run(spark, cfg, dataDir)
      results.foreach(r => println(f"${r.name}: ${r.triples} triples -> ${r.outPath}" +
        f" (materialize ${r.materializeS}%.2f s, sinks ${r.sinksS}%.2f s)"))
    } finally spark.stop()
  }
}

/** Demo ingest: dimension table → class hierarchy (HPOA-wave shape). */
object NationClassSource extends GraftSource {
  val name = "nation_classes"
  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] = Map(
    "nation" -> Tables.nation(spark, dataDir),
    "region" -> Tables.region(spark, dataDir))
  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    val regions = in("region").select("r_regionkey", "r_name").as[(Int, String)]
      .flatMap { case (rk, rn) => Model.classTriples(s"EX:region$rk", rn) }
    val nations = in("nation").select("n_nationkey", "n_name", "n_regionkey")
      .as[(Int, String, Int)]
      .flatMap { case (nk, nn, rk) =>
        Model.classTriples(s"EX:nation$nk", nn, Some(s"EX:region$rk")) }
    regions.union(nations).toDF()
  }
  override def testIds: Seq[String] = Seq("EX:nation0", "EX:region0")
}

/** Demo ingest: fact table → reified associations (CTD-wave shape). */
object OrderAssocSource extends GraftSource {
  val name = "order_assocs"
  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] =
    Map("orders" -> Tables.orders(spark, dataDir))
  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    in("orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .as[(Long, Long, Double)]
      .flatMap { case (ok, ck, tp) =>
        Association("EX:orders", s"EX:c$ck", "EXP:placed", s"EX:o$ok",
          sources = Seq("EX:orders"), score = Some(tp)).triples
      }.toDF()
  }
}

/** The full HPOA-shape real ingest (dipper/sources/HPOAnnotations.py:
  * 212-330, the 12-column `phenotype.hpoa` format, py:60-78): declared-
  * schema TSV scan → NOT-qualifier filter (py:225-226) → two-layer
  * evidence translation (local tt/hpoa.yaml composed over the global
  * table, Source.py:718-796) → aspect routing (py:246-262: P/M →
  * has-phenotype D2P carrying onset+frequency qualifiers, I/C →
  * has-disposition D2P with no qualifiers) → sex-specificity decoration
  * on the association id (py:266-273) → per-reference publication
  * fan-out with prefix-typed reference nodes and the OMIM→URL rewrite
  * (py:275-330) → set-dedup → serialization via the production-size
  * prefix map. Expects `annotations.tsv` in the run's data directory
  * (the landed raw file of the fetch stage; the fetch strips the
  * 4-line preamble and the header's leading '#').
  *
  * Faithful quirks kept: `add_association_to_graph` lives INSIDE the
  * reference loop (py:315-330), so a row whose reference list routes to
  * no known publication type emits its class declarations and sex
  * triple but NO association — replicated via the routed-pub gate
  * below. Deliberate divergence: a row with an unknown Aspect is
  * skipped outright; the reference logs an error and then decorates the
  * PREVIOUS row's still-bound `assoc` (py:261-265) — a latent upstream
  * bug, not semantics worth porting.
  *
  * Scale shape: every family is a codegen'd projection over the scan;
  * the single shuffle is the `distinct()` on the routed-pub gate, over
  * a dimension-sized (association-count) relation. */
object DiseasePhenotypeSource extends GraftSource {
  val name = "disease_phenotype"
  private val definedBy = "EX:hpoa"

  private val schema = org.apache.spark.sql.types.StructType(
    Seq("DatabaseID", "DiseaseName", "Qualifier", "HPO_ID", "Reference",
      "Evidence", "Onset", "Frequency", "Sex", "Modifier", "Aspect",
      "Biocuration")
      .map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))

  private val commonSchema = org.apache.spark.sql.types.StructType(
    Seq("Disease ID", "Disease Name", "Gene ID", "Gene Name", "Genotype",
      "Gene Symbol(s)", "Phenotype ID", "Phenotype Name",
      "Age of Onset ID", "Age of Onset Name", "Evidence ID",
      "Evidence Name", "Frequency", "Sex ID", "Sex Name", "Negation ID",
      "Negation Name", "Description", "Pub", "Assigned by",
      "Date Created")
      .map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))

  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] = Map(
    "annotations" -> graft.sources.DelimitedSource.read(spark,
      graft.sources.SourceFile(s"$dataDir/annotations.tsv", schema))) ++
    // the common-disease small-file pass
    // (process_common_disease_file HPOAnnotations.py:430-545) — OPT-IN:
    // the landed concatenation of the per-disease git files, 21-column
    // small-file format (py:84-110)
    (if (new java.io.File(dataDir, "common_diseases.tsv").exists())
       Map("common_diseases" -> graft.sources.DelimitedSource.read(spark,
         graft.sources.SourceFile(s"$dataDir/common_diseases.tsv",
           commonSchema)))
     else Map.empty)

  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import graft.emit.ColumnEmit
    import graft.emit.ColumnEmit.{res, auto}
    val tt = graft.core.TranslationTable.forSource("hpoa")
    val g = graft.core.TranslationTable.default
    val rows0 = in("annotations")
      // the reference skips negated annotations (HPOAnnotations.py:225-226)
      .filter(coalesce(col("Qualifier"), lit("")) =!= "NOT")
      .select(col("DatabaseID").as("dz"), col("HPO_ID").as("hp"),
        tt.resolveCol(col("Evidence")).as("eco"),
        when(coalesce(col("Onset"), lit("")) =!= "", col("Onset")).as("onset"),
        when(coalesce(col("Frequency"), lit("")) =!= "", col("Frequency"))
          .as("freq"),
        lower(coalesce(col("Sex"), lit(""))).as("sex"),
        coalesce(col("Aspect"), lit("")).as("asp"),
        coalesce(col("Reference"), lit("")).as("refs"))

    // class declarations made BEFORE the aspect branch (py:241-244):
    // disease, resolved evidence, and a non-empty onset term
    val preClasses = ColumnEmit.emitFiltered(rows0,
      res(col("dz"), lit(Vocab.a), lit(Vocab.owlClass)),
      res(col("eco"), lit(Vocab.a), lit(Vocab.owlClass)),
      res(col("onset"), lit(Vocab.a), lit(Vocab.owlClass)))

    // aspect routing (py:246-262); the association digest folds
    // [onset, frequency] for the P/M arm only (D2PAssoc.make_d2p_id)
    val known = rows0
      .withColumn("pred",
        when(col("asp").isin("P", "M"), lit(Vocab.hasPhenotype))
          .when(col("asp").isin("I", "C"), lit(g.resolve("has disposition"))))
      .filter(col("pred").isNotNull)
      .withColumn("onq", when(col("asp").isin("P", "M"), col("onset")))
      .withColumn("frq", when(col("asp").isin("P", "M"), col("freq")))
      .withColumn("aid", concat(lit("_:"), graft.core.Digest.md5Id(
        concat_ws("+", lit(definedBy), col("dz"), col("pred"), col("hp"),
          col("onq"), col("frq")))))
    val hpClasses = ColumnEmit.emit(known,
      res(col("hp"), lit(Vocab.a), lit(Vocab.owlClass)))

    // sex-specificity decorates the association id whether or not any
    // reference routes (py:266-273 runs before the pub loop)
    val sexTriples = ColumnEmit.emit(
      known.filter(col("sex") =!= "")
        .select(col("aid"), g.resolveCol(col("sex")).as("sexterm")),
      res(col("aid"), lit(g.resolve("has_sex_specificty")), col("sexterm")))

    // publication fan-out (py:275-330): ';'-split, malformed references
    // (neither URL nor CURIE-shaped) dropped, per-prefix typing, the
    // OMIM→entry-URL rewrite, unknown prefixes dropped
    val pubs = known
      .select(col("aid"), col("dz"), col("pred"), col("hp"), col("onq"),
        col("frq"), col("eco"), explode(split(col("refs"), ";")).as("pub0"))
      .withColumn("pub", trim(col("pub0")))
      .filter(col("pub").startsWith("http") ||
        col("pub").rlike(graft.core.Triple.CurieShape))
      .withColumn("ptype",
        when(col("pub").startsWith("PMID:"), lit(g.resolve("journal article")))
          .when(col("pub").startsWith("ISBN"), lit(g.resolve("publication")))
          .when(col("pub").startsWith("OMIM:") ||
            col("pub").startsWith("DECIPHER:") ||
            col("pub").startsWith("ORPHA:") ||
            col("pub").startsWith("http"), lit(g.resolve("web page"))))
      .filter(col("ptype").isNotNull)
      .withColumn("pub2", when(col("pub").startsWith("OMIM:"),
        concat(lit("http://omim.org/entry/"),
          regexp_replace(col("pub"), "^OMIM:", ""))).otherwise(col("pub")))
    val pubTriples = ColumnEmit.emit(pubs,
      res(col("aid"), lit(Vocab.source), col("pub2")),
      res(col("pub2"), lit(Vocab.a), col("ptype")))

    // association core, gated on ≥1 routed reference (see scaladoc); the
    // distinct() collapses the per-pub fan-out back to one association
    val core = pubs
      .select("aid", "dz", "pred", "hp", "onq", "frq", "eco").distinct()
    val coreTriples = ColumnEmit.emitFiltered(core,
      res(col("dz"), col("pred"), col("hp")),
      res(col("aid"), lit(Vocab.a), lit(Vocab.association)),
      res(col("aid"), lit(Vocab.assocHasSubject), col("dz")),
      res(col("aid"), lit(Vocab.assocHasPredicate), col("pred")),
      res(col("aid"), lit(Vocab.assocHasObject), col("hp")),
      res(col("aid"), lit(Vocab.hasEvidence), col("eco")),
      auto(col("aid"), lit(Vocab.onset), col("onq")),
      auto(col("aid"), lit(Vocab.frequency), col("frq")))

    // ---- optional common-disease tier (process_common_disease_file
    // HPOAnnotations.py:430-545): DOID/MESH id scrub, negated rows
    // skipped, D2P with onset+frequency folded into the digest,
    // evidence through the same hpoa localtt (ITM fallback on unknown
    // codes), description, ';'-split sources with the malformed /
    // self-referential skips. Unlike the main tier, the association
    // lands whether or not any reference routes (py:533 sits OUTSIDE
    // the pub loop). The reference's unpadded-DOID remap runs against a
    // stopgap-empty set (py:418-419) — a no-op, not re-modeled.
    val commonTriples = in.get("common_diseases").map { cd =>
      val rows = cd
        .filter(coalesce(col("Negation ID"), lit("")) === "" &&
          coalesce(col("Disease ID"), lit("")) =!= "" &&
          coalesce(col("Phenotype ID"), lit("")) =!= "")
        .select(
          regexp_replace(regexp_replace(trim(col("Disease ID")),
            "DO(ID)?[-:](DOID:)?", "DOID:"), "MESH-", "MESH:").as("dz"),
          trim(col("Phenotype ID")).as("hp"),
          when(coalesce(col("Age of Onset ID"), lit("")) =!= "",
            col("Age of Onset ID")).as("onq"),
          when(coalesce(col("Frequency"), lit("")) =!= "",
            col("Frequency")).as("frq"),
          coalesce(tt.resolveCol(coalesce(col("Evidence ID"), lit(""))),
            lit(tt.resolve("ITM"))).as("eco0"),
          when(coalesce(col("Description"), lit("")) =!= "",
            col("Description")).as("desc"),
          coalesce(col("Pub"), lit("")).as("refs"))
        // an unknown evidence code resolves to itself — remap to ITM
        // (py:506-508)
        .withColumn("eco", when(col("eco0").startsWith("ECO:"),
          col("eco0")).otherwise(lit(tt.resolve("ITM"))))
        .withColumn("aid", concat(lit("_:"), graft.core.Digest.md5Id(
          concat_ws("+", lit(definedBy), col("dz"),
            lit(Vocab.hasPhenotype), col("hp"), col("onq"), col("frq")))))
      val core2 = ColumnEmit.emitFiltered(rows,
        res(col("dz"), lit(Vocab.hasPhenotype), col("hp")),
        res(col("aid"), lit(Vocab.a), lit(Vocab.association)),
        res(col("aid"), lit(Vocab.assocHasSubject), col("dz")),
        res(col("aid"), lit(Vocab.assocHasPredicate),
          lit(Vocab.hasPhenotype)),
        res(col("aid"), lit(Vocab.assocHasObject), col("hp")),
        res(col("aid"), lit(Vocab.hasEvidence), col("eco")),
        auto(col("aid"), lit(Vocab.onset), col("onq")),
        auto(col("aid"), lit(Vocab.frequency), col("frq")),
        ColumnEmit.str(col("aid"), lit(Vocab.description), col("desc")))
      val pubs2 = rows
        .select(col("aid"), col("desc"),
          explode(split(col("refs"), ";")).as("pub0"))
        .withColumn("pub", regexp_replace(col("pub0"), " +", ""))
        .filter(col("pub") =!= "" &&
          (col("pub").startsWith("http") ||
            col("pub").rlike(graft.core.Triple.CurieShape)) &&
          !col("pub").rlike("DOID|MESH") &&
          !coalesce(col("desc"), lit(""))
            .contains("Disease name contained"))
      core2.union(ColumnEmit.emit(pubs2,
        res(col("aid"), lit(Vocab.source), col("pub"))))
    }

    commonTriples.foldLeft(
      preClasses.union(hpClasses).union(sexTriples)
        .union(pubTriples).union(coreTriples))(_.union(_))
  }
  override def testIds: Seq[String] = Seq("OMIM:119600")
}

/** The CTD-shape real ingest (dipper/sources/CTD.py:273-311 chem→disease
  * path): declared-schema scan of the landed `chemicals_diseases.tsv`
  * (column list CTD.py:66-77) → drop inferred rows (empty DirectEvidence,
  * py:291-292) → '|'-exploded evidence routing (therapeutic →
  * substance_that_treats, marker/mechanism → is_marker_for — the resolve
  * of py:306) → MESH-prefixed chemical class with label + unlabeled
  * disease class (py:307-310 addClassToGraph pair) → reified association
  * with PMID-typed journal-article references as sources
  * (_make_association py:425-462). Column-native throughout — every
  * branch stays in whole-stage codegen. */
object ChemDiseaseSource extends GraftSource {
  val name = "chem_disease"

  private val schema = org.apache.spark.sql.types.StructType(
    Seq("ChemicalName", "ChemicalID", "CasRN", "DiseaseName", "DiseaseID",
        "DirectEvidence", "InferenceGeneSymbol", "InferenceScore",
        "OmimIDs", "PubMedIDs")
      .map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))

  private def ctdSchema(cols: String*) =
    org.apache.spark.sql.types.StructType(cols.map(
      org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))

  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] = Map(
    "chemicals_diseases" -> graft.sources.DelimitedSource.read(spark,
      graft.sources.SourceFile(s"$dataDir/chemicals_diseases.tsv", schema))) ++
    // the two other CTD row shapes (CTD.py:233-271 genes_pathways,
    // py:313-424 genes_diseases) — OPT-IN like WormBase's dormant tiers:
    // present file ⇒ reference-faithful emission, absent ⇒ identical
    // default output
    (if (new java.io.File(dataDir, "genes_pathways.tsv").exists())
       Map("genes_pathways" -> graft.sources.DelimitedSource.read(spark,
         graft.sources.SourceFile(s"$dataDir/genes_pathways.tsv",
           ctdSchema("GeneSymbol", "GeneID", "PathwayName", "PathwayID"))))
     else Map.empty) ++
    (if (new java.io.File(dataDir, "genes_diseases.tsv").exists())
       Map("genes_diseases" -> graft.sources.DelimitedSource.read(spark,
         graft.sources.SourceFile(s"$dataDir/genes_diseases.tsv",
           ctdSchema("GeneSymbol", "GeneID", "DiseaseName", "DiseaseID",
             "DirectEvidence", "InferenceChemicalName", "InferenceScore",
             "OmimIDs", "PubMedIDs"))))
     else Map.empty)

  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import graft.emit.ColumnEmit
    import graft.core.Vocab
    val rows = in("chemicals_diseases")
      .filter(coalesce(col("DirectEvidence"), lit("")) =!= "")
      .select(col("ChemicalName").as("cn"),
        concat(lit("MESH:"), col("ChemicalID")).as("chem"),
        col("DiseaseID").as("dz"), col("PubMedIDs").as("pubs"),
        explode(split(col("DirectEvidence"), "\\|")).as("ev"))
      .filter(col("ev").isin("therapeutic", "marker/mechanism"))
      .withColumn("rel", when(col("ev") === "therapeutic",
        lit(graft.core.Vocab.substanceThatTreats))
        .otherwise(lit(graft.core.Vocab.isMarkerFor)))
    val assoc = ColumnEmit.assocReified(rows, "EX:ctd",
      col("chem"), col("rel"), col("dz"))
    val classes = ColumnEmit.emitFiltered(
      rows.select("chem", "cn", "dz").distinct(),
      ColumnEmit.res(col("chem"), lit(Vocab.a), lit(Vocab.owlClass)),
      ColumnEmit.str(col("chem"), lit(Vocab.label), col("cn")),
      ColumnEmit.res(col("dz"), lit(Vocab.a), lit(Vocab.owlClass)))
    val aid = concat(lit("_:"), Digest.md5Id(concat_ws("+",
      lit("EX:ctd"), col("chem"), col("rel"), col("dz"))))
    val pubs = rows
      .filter(coalesce(col("pubs"), lit("")) =!= "")
      .select(aid.as("a"), explode(split(col("pubs"), "\\|")).as("pm"))
      .select(col("a"), concat(lit("PMID:"), col("pm")).as("pmid"))
    val pubTriples = ColumnEmit.emit(pubs,
      ColumnEmit.res(col("a"), lit(Vocab.source), col("pmid")),
      ColumnEmit.res(col("pmid"), lit(Vocab.a), lit(Vocab.journalArticle)))

    // ---- optional genes_pathways tier (CTD.py:233-271): generic-
    // pathway scrub, KEGG id rewrite, gene typing, pathway class +
    // gene-product involvement (the same models/Pathway.py idiom the
    // KEGG ko tier proves, incl. the resource-label quirk of
    // Pathway.py:69-70)
    val pathwayArm = in.get("genes_pathways").map { gp =>
      val scrub = Seq("REACT:REACT_116125", "REACT:REACT_111045",
        "REACT:REACT_200794", "REACT:REACT_13685")
      val rows2 = gp
        .filter(coalesce(col("PathwayID"), lit("")) =!= "" &&
          !col("PathwayID").isin(scrub: _*))
        .select(concat(lit("NCBIGene:"), col("GeneID")).as("gene"),
          col("PathwayName").as("pname"),
          when(col("PathwayID").startsWith("KEGG:"),
            regexp_replace(col("PathwayID"), "^KEGG:", "KEGG-path:map"))
            .otherwise(col("PathwayID")).as("path"))
        .withColumn("gprod", concat(lit("_:"), Digest.md5Id(
          concat(regexp_replace(col("gene"), ":", ""), lit("product")))))
      ColumnEmit.emitFiltered(rows2,
        ColumnEmit.res(col("gene"), lit(Vocab.a), lit(Vocab.gene)),
        ColumnEmit.res(col("path"), lit(Vocab.a), lit(Vocab.owlClass)),
        ColumnEmit.str(col("path"), lit(Vocab.label), col("pname")),
        ColumnEmit.res(col("path"), lit(Vocab.subClassOf),
          lit("GO:0009987")),
        ColumnEmit.res(col("path"), lit(Vocab.subClassOf),
          lit("PW:0000001")),
        ColumnEmit.res(col("gprod"), lit(Vocab.a), lit("CHEBI:33695")),
        ColumnEmit.res(col("gprod"), lit(Vocab.label), col("path")),
        ColumnEmit.res(col("gene"), lit("RO:0002205"), col("gprod")),
        ColumnEmit.res(col("gprod"), lit(Vocab.involvedIn), col("path")))
    }

    // ---- optional genes_diseases tier (CTD.py:313-424): direct
    // marker/mechanism rows only, generic-disease scrub, OMIM-preferred
    // disease id (a single omim_ids entry over a MESH disease id),
    // MESH-only labels, G2P association with per-PMID journal-article
    // sources carrying traceable-author-statement evidence
    val d2gArm = in.get("genes_diseases").map { gd =>
      val scrub = Seq("MESH:D004283", "MESH:D004195", "MESH:D030342",
        "MESH:D040181", "MESH:D020022")
      val rel = lit(Vocab.isMarkerFor)
      val rows2 = gd
        .filter(coalesce(col("DirectEvidence"), lit("")) ===
          "marker/mechanism" && !col("DiseaseID").isin(scrub: _*))
        .select(concat(lit("NCBIGene:"), col("GeneID")).as("gene"),
          col("DiseaseName").as("dname"), col("DiseaseID").as("did"),
          col("OmimIDs").as("omims"), col("PubMedIDs").as("pubs"))
        .withColumn("disease",
          when(!col("did").startsWith("OMIM:") &&
            coalesce(col("omims"), lit("")) =!= "" &&
            !col("omims").contains("|"),
            concat(lit("OMIM:"), col("omims"))).otherwise(col("did")))
        .withColumn("dlabel",
          when(col("disease").startsWith("MESH"), col("dname")))
      val assoc2 = ColumnEmit.assocReified(rows2, "EX:ctd",
        col("gene"), rel, col("disease"))
      val classes2 = ColumnEmit.emitFiltered(
        rows2.select("gene", "disease", "dlabel").distinct(),
        ColumnEmit.res(col("gene"), lit(Vocab.a), lit(Vocab.owlClass)),
        ColumnEmit.res(col("disease"), lit(Vocab.a), lit(Vocab.owlClass)),
        ColumnEmit.str(col("disease"), lit(Vocab.label), col("dlabel")))
      val aid2 = concat(lit("_:"), Digest.md5Id(concat_ws("+",
        lit("EX:ctd"), col("gene"), rel, col("disease"))))
      val pubs2 = rows2
        .filter(coalesce(col("pubs"), lit("")) =!= "")
        .select(aid2.as("a"), explode(split(col("pubs"), "\\|")).as("pm"))
        .select(col("a"), concat(lit("PMID:"), col("pm")).as("pmid"))
      assoc2.union(classes2).union(ColumnEmit.emit(pubs2,
        ColumnEmit.res(col("a"), lit(Vocab.source), col("pmid")),
        ColumnEmit.res(col("pmid"), lit(Vocab.a),
          lit(Vocab.journalArticle)),
        ColumnEmit.res(col("a"), lit(Vocab.hasEvidence),
          lit("ECO:0000033"))))
    }

    (pathwayArm.toSeq ++ d2gArm)
      .foldLeft(assoc.union(classes).union(pubTriples))(_.union(_))
  }
  override def testIds: Seq[String] = Seq("MESH:D014635")
}

/** The StringDB-shape real ingest (dipper/sources/StringDB.py, the
  * wave-2 threshold/join archetype): declared-schema scan of the landed
  * `protein_links.tsv` → confidence threshold `combined_score > 700`
  * (py:188-192) → protein→gene mapping joined on BOTH interaction
  * endpoints with inner-join drop semantics for unmapped proteins
  * (py:151-176,194-210; the drop *count* is the q26 operator) → canonical
  * pair ordering least/greatest so each symmetric interaction emits once
  * (py:200-208) → reified `interacts with` associations
  * (InteractionAssoc.py:6-15). The mapping table is broadcast — it is the
  * small dimension against a 100 TB-class edge list. */
object StringInteractionsSource extends GraftSource {
  val name = "string_interactions"

  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
  private val linkSchema = StructType(Seq(
    StructField("protein1", StringType), StructField("protein2", StringType),
    StructField("combined_score", IntegerType)))
  private val mapSchema = StructType(Seq(
    StructField("protein_id", StringType), StructField("gene_id", StringType)))

  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] = Map(
    "protein_links" -> graft.sources.DelimitedSource.read(spark,
      graft.sources.SourceFile(s"$dataDir/protein_links.tsv", linkSchema)),
    "protein_gene_map" -> graft.sources.DelimitedSource.read(spark,
      graft.sources.SourceFile(s"$dataDir/protein_gene_map.tsv", mapSchema)))

  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import graft.core.Vocab
    import graft.emit.ColumnEmit
    val p2g = in("protein_gene_map")
    val pairs = in("protein_links")
      .filter(col("combined_score") > 700)
      .join(broadcast(p2g.select(col("protein_id").as("protein1"),
        col("gene_id").as("g1"))), "protein1")
      .join(broadcast(p2g.select(col("protein_id").as("protein2"),
        col("gene_id").as("g2"))), "protein2")
      .select(least(col("g1"), col("g2")).as("ga"),
        greatest(col("g1"), col("g2")).as("gb"))
      .distinct()
    val assoc = ColumnEmit.assocReified(pairs, "EX:string",
      col("ga"), lit(Vocab.interactsWith), col("gb"))
    val classes = ColumnEmit.emit(
      pairs.select(explode(array(col("ga"), col("gb"))).as("g")).distinct(),
      ColumnEmit.res(col("g"), lit(Vocab.a), lit(Vocab.owlClass)))
    assoc.union(classes)
  }
  override def testIds: Seq[String] = Seq("NCBIGene:1017")
}

/** Demo ingest: FALDO genomic features (UCSCBands-wave shape). */
object PartFeatureSource extends GraftSource {
  val name = "part_features"
  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] =
    Map("part" -> Tables.part(spark, dataDir))
  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    in("part").select("p_partkey", "p_name", "p_size").as[(Long, String, Int)]
      .flatMap { case (pk, nm, size) =>
        val start = size * 1000L
        Feature.featureTriples(s"EX:feat$pk", nm, "SO:0000704", "EX:chr1",
          start, start + 999, if (pk % 2 == 0) "+" else "-")
      }.toDF()
  }
}

/** The ZFIN-shape real ingest — the reference's LARGEST source (ZFIN.py,
  * 3121 LoC, ~40 TSVs; SURVEY §2.1 "table-driven multi-file manifest").
  * Two landed files drive the genotype-assembly core:
  * `genotype_features.tsv` (_process_genotype_features ZFIN.py:769-1191 —
  * per-genotype allele aggregation into a VSLC with inferred zygosity and
  * the synthesized Monarch-style label, make_vslc_label
  * Genotype.py:657-687; the given ZFIN genotype name becomes an exact
  * synonym) and `genotype_backgrounds.tsv`
  * (_process_genotype_backgrounds ZFIN.py:1192-1263 — background strain
  * with the Danio rerio taxon). Zygosity is inferred from the aggregated
  * allele multiset: two distinct alleles → heterozygous, one allele seen
  * twice → homozygous (paired with itself), a single observation →
  * hemizygous — Genotype.py:280-288 semantics.
  *
  * Scale shape: ONE shuffle (the per-genotype aggregate); the
  * backgrounds join is agg-side (one row per genotype, broadcast-able);
  * emission is a flatMap over the aggregated relation.
  *
  * Full multi-locus assembly (ZFIN.py:769-1191): each row lists one
  * allele with its affected gene and an explicit zygosity annotation;
  * rows are grouped into per-locus parts lists (zygosity pairing the
  * allele with itself / `0` / `?`, _get_other_allele_by_zygosity
  * ZFIN.py:2827-2847), each locus becomes a VSLC (variant-locus bnodes
  * when the gene is known, the alleles directly otherwise), and a
  * genotype's VSLCs roll up into a GVC with the sorted composite id and
  * `; `-joined label — a single VSLC doubles as its own GVC. Genotypes
  * with no background row get the reference's "unspecified background"
  * placeholder bnode. Ids are md5 digests (sha1 in the reference) so the
  * DuckDB oracle twin (p03) can reproduce them.
  *
  * Scale shape: two shuffles — the per-(genotype, locus) aggregate, then
  * the per-genotype rollup; the backgrounds join is agg-side (one row
  * per genotype) and locus-level triples ride the second (genotype-key)
  * shuffle as struct arrays instead of re-executing the first stage. */
object ZfinGenotypeSource extends GraftSource {
  val name = "zfin_genotypes"

  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  private def schemaOf(cols: String*): StructType =
    StructType(cols.map(StructField(_, StringType)))

  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] =
    graft.sources.DelimitedSource.readManifest(spark, Map(
      "genotype_features" -> graft.sources.SourceFile(
        s"$dataDir/genotype_features.tsv",
        schemaOf("GenotypeID", "GenotypeName", "AlleleID", "AlleleName",
          "GeneID", "GeneSymbol", "Zygosity")),
      "genotype_backgrounds" -> graft.sources.SourceFile(
        s"$dataDir/genotype_backgrounds.tsv",
        schemaOf("GenotypeID", "BackgroundID", "BackgroundName"))))

  private def strip(s: String): String = s.replaceAll("(ZFIN)?:", "")

  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    import graft.emit.{Genotype => G}
    val feats = in("genotype_features").select(
        col("GenotypeID"), col("GenotypeName"), col("AlleleID"),
        col("AlleleName"), col("GeneID"), col("GeneSymbol"), col("Zygosity"))
      .as[(String, String, String, String, String, String, String)]
    // stage 1: per-(genotype, locus) VSLC assembly; locus = the gene
    // when located, the allele itself otherwise (ZFIN.py:903-921)
    val loci = feats
      .groupByKey { case (gid, _, aid, _, gene, _, _) =>
        (gid, Option(gene).filter(_.nonEmpty).getOrElse(aid))
      }
      .mapGroups { (key: (String, String),
                    it: Iterator[(String, String, String, String, String,
                                  String, String)]) =>
        val gid = key._1
        val rows = it.toSeq.sortBy(r => (r._3, r._4, r._7))
        val gname = rows.map(_._2).max
        val located = rows.exists(r => r._5 != null && r._5.nonEmpty)
        val geneCurie = if (located) "ZFIN:" + rows.head._5 else null
        val geneLabel = if (located) rows.head._6 else ""
        val labels = rows.map(r => ("ZFIN:" + r._3) -> r._4).toMap
        // parts list: file order is replaced by the AlleleID sort above
        // for partition-order determinism; each row contributes its
        // allele plus the zygosity-implied partner
        val parts = rows.flatMap { r =>
          val c = "ZFIN:" + r._3
          c +: G.otherAlleleByZygosity(c, r._7).toList
        }
        val a1 = parts.head
        val (a2id, zygosity) = G.resolveSecondSlot(a1, parts.lift(1))
        val a2Label = a2id match {
          case "WT" => "+"
          case "UN" => "?"
          case "0" => "0"
          case a => labels.getOrElse(a, a)
        }
        val gn = if (located) geneCurie else "UN"
        val vslc = "_:" + Digest.md5IdScala(strip(s"$gn-$a1-$a2id"))
        val vslcLabel =
          G.makeVslcLabel(geneLabel, labels.getOrElse(a1, a1), Some(a2Label))
        // slot targets: variant-locus bnodes when located, alleles
        // directly otherwise; a homozygous pair repeats its target,
        // matching the reference's duplicate emission (graph dedups)
        val realSlots =
          (a1, labels.getOrElse(a1, a1)) +:
            (if (!Set("WT", "0", "UN").contains(a2id))
               Seq((a2id, a2Label)) else Nil)
        val slotTriples = realSlots.flatMap { case (alleleCurie, aLabel) =>
          if (located) {
            val vl = "_:" + Digest.md5IdScala(strip(s"$geneCurie-$alleleCurie"))
            Model.addType(vl, Vocab.variantLocus) ++
              Model.addLabel(vl, G.makeVariantLocusLabel(geneLabel, aLabel)) ++
              G.addAlleleOfGene(vl, geneCurie) ++
              Seq(Triple.res(vl, Vocab.hasVariantPart, alleleCurie),
                Triple.res(vslc, Vocab.hasVariantPart, vl))
          } else Seq(Triple.res(vslc, Vocab.hasVariantPart, alleleCurie))
        }
        val ts =
          rows.flatMap(r => G.addAllele("ZFIN:" + r._3, r._4)) ++
            (if (located) G.addGene(geneCurie, geneLabel) else Nil) ++
            Model.addType(vslc, Vocab.vslc) ++
            Model.addLabel(vslc, vslcLabel) ++
            slotTriples :+
            Triple.res(vslc, Vocab.hasZygosity, zygosity)
        (gid, gname, vslc, vslcLabel, ts)
      }
      .toDF("gid", "gname", "vslc", "vslcLabel", "ts")
    val bgs = in("genotype_backgrounds").select(
      col("GenotypeID").as("gid"), col("BackgroundID"), col("BackgroundName"))
    // stage 2: per-genotype GVC rollup + background (ZFIN.py:1096-1186).
    // Columnar collect_list aggregation, NOT groupByKey+flatMapGroups:
    // Tungsten hash-aggregates the narrow rows and the carried
    // locus-level triples, so per-locus objects are decoded exactly once
    // (in the final flatMap) instead of object-sorted through the
    // genotype shuffle.
    loci
      .groupBy(col("gid"))
      .agg(max(col("gname")).as("gname"),
        sort_array(collect_list(
          struct(col("vslc").as("_1"), col("vslcLabel").as("_2")))).as("vslcs"),
        flatten(collect_list(col("ts"))).as("carried"))
      .join(bgs, Seq("gid"), "left")
      .as[(String, String, Seq[(String, String)], Seq[Triple],
           Option[String], Option[String])]
      .flatMap { case (gid, gname, vslcs, carried, bgIdOpt, bgNameOpt) =>
        val gt = s"ZFIN:$gid"
        val (gvcId, gvcLabel, gvcTriples) =
          if (vslcs.size > 1) {
            // composite id: sorted ids joined, ':' stripped, leading
            // '_'s of the WHOLE string trimmed (ZFIN.py:1109-1111)
            val idSrc = vslcs.map(_._1).mkString("-")
              .replace(":", "").replaceFirst("^_+", "")
            val id = "_:" + Digest.md5IdScala(idSrc)
            val label = vslcs.map(_._2).sorted.mkString("; ")
            (id, label,
              Model.addType(id, Vocab.gvc) ++ Model.addLabel(id, label) ++
                vslcs.flatMap(v => G.addVslcToParent(v._1, id)))
          } else {
            val (vid, vlabel) = vslcs.head
            (vid, vlabel, Model.addType(vid, Vocab.gvc))
          }
        val (bgLabelPart, bgTriples) = bgIdOpt match {
          case Some(b) =>
            val bgCurie = s"ZFIN:$b"
            val bgName = bgNameOpt.orNull
            (bgName,
              G.addGenomicBackground(bgCurie, bgName) ++
                G.addGenomicBackgroundToGenotype(bgCurie, gt) ++
                G.addTaxon("NCBITaxon:7955", bgCurie))
          case None => // placeholder bnode, ZFIN.py:1155-1170
            val bgId = "_:" + Digest.md5IdScala(s"bkgd-$gid")
            ("unspecified background",
              G.addGenomicBackground(bgId, s"unspecified background ($gid)") ++
                Model.addDescription(bgId, "This genomic background is " +
                  s"unknown. This is a placeholder background for $gt.") ++
                G.addGenomicBackgroundToGenotype(bgId, gt) ++
                G.addTaxon("NCBITaxon:7955", bgId))
        }
        carried ++ gvcTriples ++ bgTriples ++
          G.addGenotype(gt, s"$gname ($bgLabelPart)") ++
          Model.addSynonym(gt, gname) ++
          Model.addSynonym(gt, s"$gvcLabel [$bgLabelPart]") ++
          G.addParts(gvcId, gt, Vocab.hasVariantPart)
      }.toDF()
  }
  override def testIds: Seq[String] = Seq("ZFIN:ZDB-GENO-070219-2")
}

/** The OMIA-shape real ingest — wave-4 XML/API mechanism (OMIA.py, the
  * XML-dump archetype): StAX scan of a MySQL-style dump
  * (`XmlDumpSource`, the `process_xml_table` analogue of
  * Source.py:497-529) for the species-specific phene table
  * (_process_phene_row OMIA.py:335-420): each row becomes an
  * `OMIA:x-taxon` subclass of its general `OMIA:x` phene with label,
  * summary description, and `in_taxon` — with the taxon CLI constraint
  * pushed into the scan (the reference's `test_ids['taxon']` gate).
  * Rows without a species or OMIA id are dropped, mirroring the
  * reference's early return. */
object OmiaPheneSource extends GraftSource {
  val name = "omia_phenes"

  def read(spark: SparkSession, dataDir: String): Map[String, DataFrame] = Map(
    "phene" -> graft.sources.XmlDumpSource.read(spark,
      Seq(s"$dataDir/omia_dump.xml"), table = "Phene",
      columns = Seq("phene_id", "omia_id", "phene_name",
        "gb_species_id", "summary")))

  def transform(spark: SparkSession, in: Map[String, DataFrame]): DataFrame =
    transform(spark, in, Nil)

  override def transform(spark: SparkSession, in: Map[String, DataFrame],
                         taxa: Seq[String]): DataFrame = {
    import spark.implicits._
    val base = in("phene")
      .filter(coalesce(col("gb_species_id"), lit("")) =!= "" &&
        coalesce(col("omia_id"), lit("")) =!= "")
    val scoped =
      if (taxa.isEmpty) base else base.filter(col("gb_species_id").isin(taxa: _*))
    scoped
      .select(col("omia_id"), col("gb_species_id"),
        col("phene_name"), col("summary"))
      .as[(String, String, Option[String], Option[String])]
      .flatMap { case (omia, sp, label, summary) =>
        val omiaId = s"OMIA:$omia"
        val spPhene = s"$omiaId-$sp"
        Model.classTriples(spPhene, label.filter(_.nonEmpty).orNull,
            subClassOf = Some(omiaId),
            description = summary.filter(_.nonEmpty)) ++
          Model.addTriple(spPhene, graft.core.Vocab.inTaxon, s"NCBITaxon:$sp")
      }.toDF()
  }
  override def testIds: Seq[String] = Seq("OMIA:001445-9913")
}
