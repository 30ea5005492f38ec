package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.{CurieMap, NT}

/** Triple-relation sinks (SURVEY §2.2).
  *
  * N-Triples is the canonical sink (order-free set of lines — matches the
  * reference's StreamedGraph contract "a downstream process will sort then
  * uniquify", StreamedGraph.py:15-16): a map-only projection through
  * [[NT.lineCol]] with an explicit `dropDuplicates` standing in for the
  * rdflib store's set semantics. Turtle is a best-effort subject-grouped
  * serialization for eyeballing (the reference's golden-test fidelity
  * concern is sidestepped by comparing canonical NT sets — SURVEY §7).
  */
object TripleSinks {

  private val key = Seq("s", "p", "o", "lit", "dt")

  /** Project a (s,p,o,lit,dt) triple DataFrame to canonical NT lines. */
  def toNtLines(triples: DataFrame, cm: CurieMap = CurieMap.default): DataFrame = {
    val oTerm = when(col("lit"), col("o")).otherwise(cm.expandCol(col("o")))
    triples.select(NT.lineCol(cm.expandCol(col("s")), cm.expandCol(col("p")),
      oTerm, col("lit"), cm.expandCol(col("dt"))).as("value"))
  }

  /** Write deduplicated NT. `numFiles` controls output fan-in (None =
    * keep the natural partitioning — the right call at scale). */
  def writeNt(triples: DataFrame, path: String,
              cm: CurieMap = CurieMap.default,
              numFiles: Option[Int] = None): Unit =
    writeDistinctNt(triples.dropDuplicates(key), path, cm, numFiles)

  /** [[writeNt]] over a relation that is already set-distinct on
    * (s,p,o,lit,dt): a map-only projection, no dedup shuffle. */
  def writeDistinctNt(triples: DataFrame, path: String, cm: CurieMap,
                      numFiles: Option[Int] = None): Unit =
    writeLines(toNtLines(triples, cm), path, numFiles)

  private def writeLines(lines: DataFrame, path: String, numFiles: Option[Int]): Unit =
    numFiles.map(lines.coalesce).getOrElse(lines)
      .write.mode(SaveMode.Overwrite).text(path)

  /** NT partitioned by subject namespace prefix (the "partition by
    * source/taxon" posture, SURVEY §7): downstream consumers prune whole
    * directories (`prefix=HP/...`) instead of scanning the full graph,
    * and per-prefix files parallelize the downstream sort-unify step. */
  def writeNtPartitioned(triples: DataFrame, path: String,
                         cm: CurieMap = CurieMap.default): Unit = {
    val deduped = triples.dropDuplicates(key)
    val oTerm = when(col("lit"), col("o")).otherwise(cm.expandCol(col("o")))
    val lines = deduped.select(
      NT.lineCol(cm.expandCol(col("s")), cm.expandCol(col("p")),
        oTerm, col("lit"), cm.expandCol(col("dt"))).as("value"),
      when(col("s").startsWith("_:"), lit("bnode"))
        .otherwise(regexp_extract(col("s"), "^([A-Za-z0-9]+):", 1)).as("prefix"))
    lines.write.mode(SaveMode.Overwrite).partitionBy("prefix").text(path)
  }

  /** NQ projection: every triple tagged with `graphCol` (a CURIE/IRI
    * column — typically the ingest's named graph). */
  def toNqLines(triples: DataFrame, graphCol: Column,
                cm: CurieMap = CurieMap.default): DataFrame = {
    val oTerm = when(col("lit"), col("o")).otherwise(cm.expandCol(col("o")))
    triples.select(NT.quadLineCol(cm.expandCol(col("s")), cm.expandCol(col("p")),
      oTerm, col("lit"), cm.expandCol(col("dt")), cm.expandCol(graphCol)).as("value"))
  }

  /** Write deduplicated N-Quads (the reference's `nquads` format,
    * Source.py:192-198) — same map-only posture as [[writeNt]]. */
  def writeNq(triples: DataFrame, graphCol: Column,
              path: String, cm: CurieMap = CurieMap.default,
              numFiles: Option[Int] = None): Unit =
    writeDistinctNq(triples.dropDuplicates(key), graphCol, path, cm, numFiles)

  /** [[writeNq]] over an already set-distinct relation. */
  def writeDistinctNq(triples: DataFrame, graphCol: Column, path: String,
                      cm: CurieMap, numFiles: Option[Int] = None): Unit =
    writeLines(toNqLines(triples, graphCol, cm), path, numFiles)

  /** The CURIE prefix a term binds: the text before its first `:`, or
    * null for nulls, blank nodes and colon-free terms. */
  private def prefixCol(c: Column): Column =
    when(c.isNotNull && !c.startsWith("_") && c.contains(":"),
      substring_index(c, ":", 1))

  /** Driver-side twin of the per-term prefix rule, for triples built on
    * the driver (same answer as the column expression). */
  def prefixOf(term: String): Option[String] =
    Option(term).filter(t => !t.startsWith("_") && t.contains(":"))
      .map(t => t.substring(0, t.indexOf(':')))

  /** The prefixes one triple row references: subject, predicate,
    * resource object and datatype (null where a term binds none). */
  def termPrefixes: Seq[Column] = Seq(prefixCol(col("s")), prefixCol(col("p")),
    when(!col("lit"), prefixCol(col("o"))), prefixCol(col("dt")))

  /** The CURIE map's bindings for the used prefixes, sorted by prefix. */
  def bindPrefixes(used: Set[String], cm: CurieMap): Seq[(String, String)] =
    // xsd datatypes surface even when only typed literals use them
    cm.prefixes.toSeq.filter { case (p, _) => used(p) }.sortBy(_._1)

  /** Prefixes actually referenced by the triple relation (subject,
    * predicate, resource objects, datatypes) ∩ the CURIE map — the
    * reference binds only used namespaces the same way
    * (RDFGraph.py:199-205). One cheap distinct over prefix substrings;
    * the collect is bounded by the size of the prefix map. */
  def usedPrefixes(triples: DataFrame, cm: CurieMap): Seq[(String, String)] =
    bindPrefixes(triples.select(explode(array(termPrefixes: _*)).as("pfx"))
      .filter(col("pfx").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet, cm)

  /** Best-effort Turtle: repartition by subject so each subject's triples
    * land in one partition, sort within partitions, assemble blocks with
    * `mapPartitions` (no driver collect — scales with data). The prefix
    * header binds only namespaces the graph actually uses, mirroring the
    * reference (RDFGraph.py:199-205). */
  def writeTurtle(triples: DataFrame, path: String,
                  cm: CurieMap = CurieMap.default): Unit =
    writeDistinctTurtle(triples.dropDuplicates(key), usedPrefixes(triples, cm), path)

  /** [[writeTurtle]] over an already set-distinct (s,p,o,lit,dt)
    * relation, with the header binding `prefixes` as given. */
  def writeDistinctTurtle(triples: DataFrame, prefixes: Seq[(String, String)],
                          path: String): Unit = {
    import triples.sparkSession.implicits._
    val spark = triples.sparkSession
    val header = prefixes
      .map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")
    val body: Dataset[String] = triples
      .select(key.map(col): _*)
      .repartition(col("s"))
      .sortWithinPartitions("s", "p", "o")
      .mapPartitions { rows =>
        val sb = new StringBuilder
        var cur: String = null
        var first = true
        rows.foreach { r =>
          val s = r.getString(0); val p = r.getString(1); val o = r.getString(2)
          val isLit = r.getBoolean(3); val dt = if (r.isNullAt(4)) null else r.getString(4)
          val oTerm =
            if (isLit && dt != null) "\"" + NT.escape(o) + "\"^^" + dt
            else if (isLit) "\"" + NT.escape(o) + "\""
            else o
          if (s != cur) {
            if (!first) sb.append(" .\n")
            sb.append(s).append(" ").append(p).append(" ").append(oTerm)
            cur = s; first = false
          } else {
            sb.append(" ;\n    ").append(p).append(" ").append(oTerm)
          }
        }
        if (!first) sb.append(" .\n")
        if (sb.isEmpty) Iterator.empty else Iterator(sb.toString)
      }
    val withHeader = spark.createDataset(Seq(header)).union(body)
    withHeader.write.mode(SaveMode.Overwrite).text(path)
  }

  /** N3 sink: the engine's Turtle output is valid N3 (Turtle ⊂ N3), which
    * is also how the reference produces `n3` — rdflib serializes both
    * formats from the same store (Source.py:192-198). */
  def writeN3(triples: DataFrame, path: String,
              cm: CurieMap = CurieMap.default): Unit =
    writeTurtle(triples, path, cm)

  /** Best-effort RDF/XML (the reference's `rdfxml` format,
    * Source.py:192-198): subject-grouped `rdf:Description` blocks
    * assembled partition-locally (same scaling posture as
    * [[writeTurtle]] — no driver collect), with only used namespaces
    * declared. Predicates must be CURIEs from the map (true for all
    * engine emitters); literal datatypes expand to full IRIs. */
  def writeRdfXml(triples: DataFrame, path: String,
                  cm: CurieMap = CurieMap.default): Unit =
    writeDistinctRdfXml(triples.dropDuplicates(key), usedPrefixes(triples, cm), path, cm)

  /** [[writeRdfXml]] over an already set-distinct (s,p,o,lit,dt)
    * relation, declaring `prefixes` (plus `rdf`) as given. */
  def writeDistinctRdfXml(triples: DataFrame, prefixes: Seq[(String, String)],
                          path: String, cm: CurieMap): Unit = {
    import triples.sparkSession.implicits._
    val spark = triples.sparkSession
    val cmB = cm
    def xmlAttrEscape(v: String): String =
      v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\"", "&quot;")
    def xmlTextEscape(v: String): String =
      v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val nsDecls = (("rdf" -> cm.prefixes("rdf")) +: prefixes)
      .distinct
      .map { case (p, ns) => s"""    xmlns:$p="${xmlAttrEscape(ns)}"""" }
      .mkString("\n")
    val header = s"""<?xml version="1.0" encoding="UTF-8"?>\n<rdf:RDF\n$nsDecls>"""
    val body: Dataset[String] = triples
      .select(key.map(col): _*)
      .repartition(col("s"))
      .sortWithinPartitions("s", "p", "o")
      .mapPartitions { rows =>
        val sb = new StringBuilder
        var cur: String = null
        rows.foreach { r =>
          val s = r.getString(0); val p = r.getString(1); val o = r.getString(2)
          val isLit = r.getBoolean(3); val dt = if (r.isNullAt(4)) null else r.getString(4)
          if (s != cur) {
            if (cur != null) sb.append("  </rdf:Description>\n")
            // expand() skolemizes bnodes, same as the NT sink's expandCol
            sb.append(s"""  <rdf:Description rdf:about="${xmlAttrEscape(cmB.expand(s))}">""").append("\n")
            cur = s
          }
          if (isLit) {
            val dtAttr =
              if (dt == null) ""
              else s""" rdf:datatype="${xmlAttrEscape(cmB.expand(dt))}""""
            sb.append(s"    <$p$dtAttr>${xmlTextEscape(o)}</$p>\n")
          } else {
            sb.append(s"""    <$p rdf:resource="${xmlAttrEscape(cmB.expand(o))}"/>""").append("\n")
          }
        }
        if (cur != null) sb.append("  </rdf:Description>\n")
        if (sb.isEmpty) Iterator.empty else Iterator(sb.toString.stripSuffix("\n"))
      }
    val footer = spark.createDataset(Seq("</rdf:RDF>"))
    spark.createDataset(Seq(header)).union(body).union(footer)
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** Test-subset sink: the same pipeline filtered to configured ids
    * (testgraph semantics, Source.py:107-109). */
  def writeTestSubset(triples: DataFrame, testIds: Seq[String],
                      path: String, cm: CurieMap = CurieMap.default): Unit =
    writeNt(triples.filter(col("s").isin(testIds: _*)), path, cm)
}
