package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Vocab

/** Property-axiom post-pass.
  *
  * The reference collects the distinct predicates of the produced graph
  * and types each as Object/Annotation/Datatype property by fetching 7
  * ontologies at runtime (GraphUtils.py:48-127 — network at write time).
  * Hermetic version: the same distinct-predicate aggregation with a
  * vendored classification table (SURVEY §7 flags the live fetch as
  * unacceptable for reproducible builds).
  */
object PropertyAxioms {

  /** Vendored classification: annotation + datatype props are enumerated,
    * everything else that appears as a predicate is an object property. */
  val annotationProperties: Set[String] = Set(
    Vocab.label, Vocab.comment, Vocab.description, "IAO:0000115",
    Vocab.hasExactSynonym, Vocab.hasRelatedSynonym, Vocab.hasDbXref,
    Vocab.inSubset, Vocab.consider, "dc:source", "dc:date", "EXP:pages")

  val datatypeProperties: Set[String] = Set(
    "EXP:score", Vocab.faldoPosition, Vocab.deprecated, Vocab.version,
    Vocab.retrievedOn, Vocab.voidTriples, Vocab.voidDistinctSubjects,
    Vocab.voidDistinctObjects, Vocab.voidProperties, "EXP:frequency")

  /** Distinct predicates of a triple DataFrame (GraphUtils.py:48-60). */
  def distinctPredicates(triples: DataFrame): DataFrame =
    triples.select("p").distinct()

  /** The `owl:*Property` class a predicate column is typed as. */
  def classOf(p: Column): Column =
    when(array_contains(typedLit(annotationProperties.toSeq), p), "owl:AnnotationProperty")
      .when(array_contains(typedLit(datatypeProperties.toSeq), p), "owl:DatatypeProperty")
      .otherwise("owl:ObjectProperty")

  /** One `rdf:type owl:*Property` triple per used predicate. */
  def axiomTriples(triples: DataFrame): DataFrame =
    distinctPredicates(triples).select(
      col("p").as("s"),
      lit(Vocab.a).as("p"),
      classOf(col("p")).as("o"),
      lit(false).as("lit"),
      lit(null).cast("string").as("dt"))
}
