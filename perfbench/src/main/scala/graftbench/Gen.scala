package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of (seed, row
  * key), computed with xxhash64 inside Spark, so the same seed writes
  * byte-identical inputs on every run and every host.
  *
  *  - [[corpus]]: the TPC-H-shaped star schema plus `events`,
  *    `documents` and `embeddings`, with the column names and types the
  *    catalog queries and `graft.Tables` read.
  *  - [[landEtl]]: the landed raw files of the `etl_release` sources,
  *    each in its declared format (WormBase: headerless CSV, GAF/DAF
  *    and RNAi TSVs, GFF3; order_assocs: parquet).
  *  - [[documents]] / [[vectors]]: text and 64-d vectors, for
  *    `index_churn` and the corpus's `documents` / `embeddings`.
  */
object Gen {

  /** Non-negative pseudo-random long of (seed, keys). */
  def h(seed: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: keys): _*), lit(Long.MaxValue))

  /** Uniform double in [0, 1) of (seed, keys). */
  def u(seed: Long, keys: Column*): Column =
    (h(seed, keys: _*) % 1000000L).cast("double") / 1e6

  private def pick(seed: Long, key: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*),
      (h(seed, key, lit(salt)) % xs.length.toLong + 1).cast("int"))

  val vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "value", "vector", "window", "graph",
    "index", "shard", "token", "cache", "plan", "stage", "task", "node",
    "edge", "triple", "label")

  /** `text` of `n` words drawn (seeded) from [[vocab]], plus a rare
    * per-document tail token so BM25 has selective terms too. */
  private def text(seed: Long, id: Column, n: Column): Column = {
    val words = array(vocab.map(lit): _*)
    val body = transform(sequence(lit(1), n), i =>
      element_at(words,
        (h(seed, id, i) % vocab.length.toLong + 1).cast("int")))
    concat_ws(" ", body, concat(lit("w"), (h(seed, id, lit(-1)) % 997L).cast("string")))
  }

  private def write(df: DataFrame, path: String, files: Int = 1): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(path)

  private def counts(sf: Double) = (math.max(100L, (150000 * sf).toLong),
    math.max(500L, (1500000 * sf).toLong))

  /** `orders` alone: the table the etl_release landings derive from. */
  def orders(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val (nCust, nOrd) = counts(sf)
    val id = col("id")
    write(spark.range(nOrd).select(id.as("o_orderkey"),
      (h(seed, id, lit(11)) % nCust).as("o_custkey"),
      pick(seed, id, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(seed, id, lit(13)) * 450000 + 900, 2).as("o_totalprice"),
      // 694224000 = 1992-01-01T00:00:00Z
      timestamp_seconds(lit(694224000L) + h(seed, id, lit(14)) % 2400L * 86400L)
        .as("o_orderdate"),
      pick(seed, id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), s"$dir/orders.parquet", 2)
  }

  /** TPC-H-shaped corpus at scale `sf` (sf 0.1 ≈ 600 k lineitems). */
  def corpus(spark: SparkSession, dir: String, sf: Double, seed: Long,
             docs: Long, vecs: Long): Unit = {
    val (nCust, _) = counts(sf)
    val nSupp = math.max(20L, (10000 * sf).toLong)
    val nPart = math.max(100L, (200000 * sf).toLong)
    val nEv = math.max(1000L, (1000000 * sf).toLong)
    val id = col("id")
    import spark.implicits._
    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"), s"$dir/region.parquet")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      s"$dir/nation.parquet")
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (h(seed, id, lit(1)) % 25L).cast("int").as("c_nationkey"),
      round(u(seed, id, lit(2)) * 11000 - 1000, 2).as("c_acctbal"),
      pick(seed, id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), s"$dir/customer.parquet")
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (h(seed, id, lit(4)) % 25L).cast("int").as("s_nationkey"),
      round(u(seed, id, lit(5)) * 11000 - 1000, 2).as("s_acctbal")),
      s"$dir/supplier.parquet")
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, id, 6, Seq("large", "hot", "small", "green",
        "bright", "dark", "cold", "light")),
        pick(seed, id, 7, Seq("ring", "bolt", "gear", "pipe", "valve", "nut",
          "plate", "spring"))).as("p_name"),
      concat(lit("Brand#"), (h(seed, id, lit(8)) % 25L + 1).cast("string")).as("p_brand"),
      pick(seed, id, 9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
        "PROMO")).as("p_type"),
      (h(seed, id, lit(10)) % 50L + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000).cast("double") / 10).as("p_retailprice")),
      s"$dir/part.parquet")
    orders(spark, dir, sf, seed)
    val ok = col("o_orderkey"); val ln = col("l_linenumber")
    val li = spark.read.parquet(s"$dir/orders.parquet")
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (h(seed, ok, lit(16)) % 7L + 1).cast("int")))
          .as("l_linenumber"))
      .select(ok.as("l_orderkey"),
        (h(seed, ok, ln, lit(17)) % nPart).as("l_partkey"),
        (h(seed, ok, ln, lit(18)) % nSupp).as("l_suppkey"),
        ln,
        (h(seed, ok, ln, lit(19)) % 50L + 1).cast("double").as("l_quantity"),
        round(u(seed, ok, ln, lit(20)) * 100000 + 900, 2).as("l_extendedprice"),
        ((h(seed, ok, ln, lit(21)) % 11L).cast("double") / 100).as("l_discount"),
        ((h(seed, ok, ln, lit(22)) % 9L).cast("double") / 100).as("l_tax"),
        pick(seed, ok * 8 + ln, 23, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, ok * 8 + ln, 24, Seq("O", "F")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          (h(seed, ok, ln, lit(25)) % 120L + 1) * 86400L).as("l_shipdate"))
    write(li, s"$dir/lineitem.parquet", 4)
    write(spark.range(nEv).select(id.as("event_id"),
      // 1704067200 = 2024-01-01T00:00:00Z; one event every ~30 s
      timestamp_micros(lit(1704067200000000L) + id * 30000000L +
        h(seed, id, lit(26)) % 30000000L).as("ts"),
      (h(seed, id, lit(27)) % 2000L).as("user_id"),
      pick(seed, id, 28, Seq("view", "click", "purchase", "error", "login",
        "logout")).as("event_type"),
      round(u(seed, id, lit(29)) * 200, 2).as("value"),
      concat(lit("{\"k\": "), (h(seed, id, lit(30)) % 100L).cast("string"), lit("}"))
        .as("props")), s"$dir/events.parquet")
    write(documents(spark, docs, seed), s"$dir/documents.parquet")
    write(vectors(spark, vecs, seed).withColumnRenamed("id", "vec_id"),
      s"$dir/embeddings.parquet")
  }

  def documents(spark: SparkSession, n: Long, seed: Long, from: Long = 0L): DataFrame = {
    val id = col("id")
    spark.range(from, from + n).select(id.as("doc_id"),
      text(seed, id, (h(seed, id, lit(31)) % 40L + 8).cast("int")).as("text"),
      pick(seed, id, 32, Seq("en", "en", "en", "de", "fr", "zh")).as("lang"),
      concat(lit("src"), (h(seed, id, lit(33)) % 5L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d vectors around 16 seeded centres (cluster = `label`). */
  def vectors(spark: SparkSession, n: Long, seed: Long, from: Long = 0L): DataFrame = {
    val id = col("id")
    val label = (h(seed, id, lit(34)) % 16L).cast("int")
    spark.range(from, from + n).select(id, label.as("label"))
      .select(id, transform(sequence(lit(0), lit(63)), j =>
        (u(seed, lit(-7L), col("label"), j) - 0.5 +
          (u(seed, id, j) - 0.5) * 0.6).cast("float")).as("embedding"), col("label"))
  }

  /** Write one delimited file at exactly `path` (one part file, renamed). */
  private def landText(df: DataFrame, path: String, sep: String,
                       header: Boolean): Unit = {
    val tmp = path + ".parts"
    df.coalesce(1).write.mode("overwrite")
      .option("sep", sep).option("header", header.toString)
      .option("emptyValue", "").csv(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.rm(new java.io.File(tmp))
  }

  private def headerOnly(path: String, cols: Seq[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      cols.mkString("\t") + "\n")

  /** The landed raw files of the etl_release sources. `sf` sizes the
    * `orders` table they derive from (and order_assocs reads as is). */
  def landEtl(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    orders(spark, dir, sf, seed)
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val ok = col("o_orderkey")
    def r(salt: Int, n: Long): Column = h(seed, ok, lit(salt)) % n

    // WormBase: headerless gene-id CSV, GAF/DAF tables, RNAi TSV, GFF3
    val gk = r(80, 4000)
    val wbg = concat(lit("WBGene"), lpad(gk.cast("string"), 8, "0"))
    val wbvar = concat(lit("WBVar"), lpad(r(81, 900).cast("string"), 8, "0"))
    val wbrnai = concat(lit("WBRNAi"), lpad(r(82, 400).cast("string"), 8, "0"))
    val wbpaper = concat(lit("WBPaper"), lpad(r(83, 300).cast("string"), 8, "0"))
    val gid = lpad(ok.cast("string"), 8, "0")
    landText(ord.filter(ok < 4000).select(
      lit("6239").as("taxon_num"), concat(lit("WBGene"), gid).as("gene_num"),
      when(ok % 5 === 0, lit("")).otherwise(concat(lit("sym"), ok)).as("gene_symbol"),
      when(ok % 3 === 0, concat(lit("Y"), ok, lit(".1"))).otherwise(lit("")).as("gene_synonym"),
      when(ok % 17 === 0, lit("Dead")).otherwise(lit("Live")).as("live"),
      lit("protein_coding_gene").as("gene_type")),
      s"$dir/c_elegans.PRJNA13758.WS274.geneIDs.txt", ",", header = false)
    def gaf(obj: Column, ref: Column, eco: Column, wf: Column) = ord.select(
      lit("WB").as("DB"), wbg.as("DB_Object_ID"), lit("gsym").as("DB_Object_Symbol"),
      when(r(84, 19) === 0, lit("NOT")).otherwise(lit("")).as("Qualifier"),
      obj.as("GO_ID"), ref.as("DB_Reference"), eco.as("Evidence_Code"),
      wf.as("With_or_From"), lit("P").as("Aspect"), lit("").as("DB_Object_Name"),
      lit("").as("DB_Object_Synonym"), lit("gene").as("DB_Object_Type"),
      lit("taxon:6239").as("Taxon"), lit("20200101").as("Date"),
      lit("WB").as("Assigned_By"), lit("").as("Annotation_Extension"),
      lit("").as("Gene_Product_Form_ID"))
    landText(gaf(
      concat(lit("WBPhenotype:"), lpad(r(85, 700).cast("string"), 7, "0")),
      element_at(array(concat(lit("WB_REF:"), wbpaper), concat(lit("WB:"), wbvar),
        concat(lit("WB_REF:"), wbpaper), concat(lit("WB:"), wbrnai)),
        (r(86, 4) + 1).cast("int")),
      when(r(87, 2) === 0, lit("IMP")).when(r(87, 7) === 0, lit("XYZ")).otherwise(lit("IEA")),
      element_at(array(concat(lit("WB:"), wbvar), concat(lit("WB:WBPerson"), r(88, 80)),
        concat(lit("WB:"), wbvar, lit("|WB:"), wbrnai), lit("")),
        (r(89, 4) + 1).cast("int"))),
      s"$dir/phenotype_association.WS274.wb", "\t", header = false)
    landText(ord.select(
      wbg.as("gene_num"), concat(lit("alt"), gk).as("gene_alt_symbol"),
      lit("locomotion variant").as("phenotype_label"),
      concat(lit("WBPhenotype:"), lpad(r(85, 700).cast("string"), 7, "0")).as("phenotype_id"),
      element_at(array(concat(wbrnai, lit("|"), wbpaper),
        concat(wbrnai, lit("|"), wbpaper, lit(" WBRNAi"),
          lpad(r(90, 450).cast("string"), 8, "0"), lit("|WBPaper"),
          lpad(r(91, 350).cast("string"), 8, "0")),
        concat(wbrnai, lit("|a|b"))), (r(92, 3) + 1).cast("int")).as("rnai_and_refs")),
      s"$dir/rnai_phenotypes.WS274.wb", "\t", header = false)
    val v0 = concat(lit("ID=Gene:"), wbg, lit(";Name="), wbg,
      lit(";biotype=protein_coding;sequence_name=Y1.1"))
    landText(ord.select(
      element_at(array(lit("I"), lit("II"), lit("X")), (r(93, 3) + 1).cast("int")).as("seqid"),
      lit("WormBase").as("source"),
      element_at(array(lit("gene"), lit("point_mutation"), lit("biological_region"),
        lit("pseudogene")), (r(94, 4) + 1).cast("int")).as("ftype"),
      when(r(95, 6) === 0, lit("")).otherwise(r(96, 100000).cast("string")).as("start"),
      (r(96, 100000) + 500).cast("string").as("end"),
      lit(".").as("score"),
      element_at(array(lit("+"), lit("-"), lit(".")), (r(97, 3) + 1).cast("int")).as("strand"),
      lit(".").as("phase"),
      concat(
        when(r(98, 4) === 0, v0).otherwise(element_at(array(
          concat(lit("ID=Variation:"), wbvar, lit(";Name=abc"), r(99, 50)),
          concat(lit("variation="), wbvar, lit(";public_name=gk"), r(81, 900),
            lit(";substitution=C/T;strain=VC1")),
          lit("ID=gmap:spe-13;gmap=spe-13"),
          concat(lit("Name=WBsf"), lpad(r(100, 600).cast("string"), 6, "0"),
            lit(";tf_id=X"))), (r(101, 4) + 1).cast("int"))),
        when(r(102, 23) === 0, lit(";polymorphism=1")).otherwise(lit(""))).as("attributes")),
      s"$dir/c_elegans.PRJNA13758.WS274.annotations.gff3", "\t", header = false)
    landText(gaf(concat(lit("DOID:"), r(103, 600)),
      when(r(104, 6) === 0, lit("")).otherwise(concat(lit("WB_REF:"), wbpaper)),
      when(r(105, 2) === 0, lit("IMP")).otherwise(lit("IEA")), lit("")),
      s"$dir/disease_association.WS274.daf.txt", "\t", header = false)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/CHECKSUMS"),
      "0000  c_elegans.PRJNA13758.WS274.annotations.gff3.gz\n")
  }
}

/** Small file helpers. */
object Files {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Bytes under `f` (a file or a directory tree), hidden files excluded. */
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(bytes).sum
    else f.length()

}
