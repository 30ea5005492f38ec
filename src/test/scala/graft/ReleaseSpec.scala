package graft

import java.io.File
import java.nio.file.Files

import graft.core.{Triple, Vocab}
import graft.emit.DatasetMeta
import graft.engine.{PropertyAxioms, Runner}
import graft.sinks.TripleSinks

/** Runner's single-pass release body: the fused dedup/aggregate must
  * release exactly the set the plain union → axioms → set-dedup pipeline
  * describes, and the concurrent sinks must fail as one. */
class ReleaseSpec extends SparkSpec {
  import spark.implicits._

  private val cm = Runner.curieMap
  private def iri(curie: String) = "<" + cm.expand(curie) + ">"
  private def lines(path: String): Seq[String] =
    spark.read.text(path).as[String].collect().toSeq

  test("release: one axiom per source predicate, count = NT lines, header = usedPrefixes") {
    val graph = Seq(
      Triple.res("EX:a", "RO:0002200", "HP:0000001"),
      Triple.res("EX:a", "RO:0002200", "HP:0000001"),
      // (a) the source already types its own predicate
      Triple.res("RO:0002200", Vocab.a, "owl:ObjectProperty"),
      Triple.str("EX:a", Vocab.label, "a"),
      Triple.typed("EX:b", "EXP:score", "0.5", "xsd:double")).toDF()
    val meta = DatasetMeta.describe("EX:ds/hand", "hand", "2026-08",
      "file://data", "2026-08-01").toDF()
    val out = Files.createTempDirectory("graft-release").toString
    val cfg = Runner.RunConfig(Seq("hand"), out,
      destFmt = Seq("nt", "nquads", "turtle", "n3", "rdfxml"))
    val res = Runner.release(spark, "hand", graph, meta, cfg, Seq("EX:a"))

    val nt = lines(s"$out/hand.nt")
    val typed = (p: String) => nt.filter(_.startsWith(s"${iri(p)} ${iri(Vocab.a)} "))
    assert(typed("RO:0002200") == Seq(
      s"${iri("RO:0002200")} ${iri(Vocab.a)} ${iri("owl:ObjectProperty")} ."))
    assert(typed("EXP:score").map(_.split(" ")(2)) == Seq(iri("owl:DatatypeProperty")))
    assert(typed(Vocab.label).map(_.split(" ")(2)) == Seq(iri("owl:AnnotationProperty")))
    // (b) predicates only the metadata graph uses get no axiom
    assert(typed("dcat:downloadURL").isEmpty && typed("dcterms:isPartOf").isEmpty)

    // (c) the count is the NT line count, and both equal the unfused pipeline
    val plain = graph.union(meta).union(PropertyAxioms.axiomTriples(graph))
      .dropDuplicates("s", "p", "o", "lit", "dt")
    assert(res.triples == nt.length && nt.distinct.length == nt.length)
    assert(nt.toSet == TripleSinks.toNtLines(plain, cm).as[String].collect().toSet)
    assert(lines(s"$out/hand.nq").length == res.triples)
    val header = TripleSinks.usedPrefixes(plain, cm)
      .map { case (p, ns) => s"@prefix $p: <$ns> ." }
    Seq("ttl", "n3").foreach { ext =>
      assert(lines(s"$out/hand.$ext").filter(_.startsWith("@prefix")).sorted == header, ext)
    }
    assert(lines(s"$out/hand.xml").count(_.contains("<rdf:Description ")) ==
      nt.map(_.split(" ")(0)).distinct.length)
    val subset = lines(s"$out/hand_test.nt")
    assert(subset.nonEmpty && subset.forall(_.startsWith(iri("EX:a") + " ")))
    assert(subset.length == nt.count(_.startsWith(iri("EX:a") + " ")))
  }

  test("concurrent sinks: a failed sink rethrows after the others finish, no cache leaks") {
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("graft-sinkfail").toString
    // streamed_nt stages under <out>/_stream; a regular file there fails
    // that sink as soon as its write job is set up
    Files.writeString(new File(out, "_stream").toPath, "not a directory")
    val err = intercept[Exception] {
      Runner.run(spark, Runner.RunConfig(Seq("nation_classes"), out,
        destFmt = Seq("streamed_nt", "nt", "turtle", "rdfxml")), sf)
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("_stream")), err)
    Seq("nt", "ttl", "xml").foreach { ext =>
      assert(new File(out, s"nation_classes.$ext/_SUCCESS").exists, ext)
    }
    assert(new File(out, "nation_classes_test.nt/_SUCCESS").exists)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
