package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Document deduplication at training-data scale.
  *
  * Four tiers, cheapest first:
  *  1. exact — hash-groupBy on a content digest; one shuffle on the hash.
  *  2. n-gram Jaccard — exact set similarity on word shingles; the
  *     shingle join is the classic "inverted index" equi-join, feasible
  *     when shingle frequencies are bounded.
  *  3. MinHash + LSH banding — near-dup detection whose cost is linear in
  *     corpus size: signatures in ONE aggregation pass, candidate pairs
  *     only within equal (band, bandHash) buckets. This is the 100 TB
  *     path: no O(n²) anywhere; bucket skew is handled by AQE.
  *  4. SimHash — 64-bit fingerprints; candidate pairs from 16-bit chunk
  *     equality (any pair within Hamming distance 3 shares ≥1 of 4
  *     chunks; wider radii use more/narrower chunks), verified by
  *     popcount of the XOR.
  *
  * Embedding-cosine near-dup lives in [[Similarity]].
  */
object Dedup {

  /** Exact duplicate groups: digest → (group size, canonical keeper). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep"))
      .filter(col("n") > 1)

  /** Snapshot-incremental exact dedup — the recurring-crawl posture:
    * keep only the rows of `newDocs` whose content digest is absent from
    * the prior corpus, WITHOUT re-deduplicating the prior corpus.
    *
    * Scale shape: a Bloom filter over the old digests (distributed
    * tree-merge build, see [[BloomJoin.keyBloom]]) splits the new batch
    * before any shuffle. might-contain=false rows are definite keepers —
    * a Bloom filter has no false negatives — and bypass the anti join
    * entirely; only probable duplicates (true re-deliveries + fpp noise)
    * shuffle against the old digest relation. Against a 100 TB prior
    * corpus the anti join's new-side shuffle volume drops from |new| to
    * |re-delivered| + fpp·|new|, and the old side is digests only (16
    * bytes/doc), not documents. Results are exact: the residual anti
    * join removes the Bloom's false positives. */
  def incrementalNew(oldDocs: DataFrame, newDocs: DataFrame,
                     textCol: String, expectedOld: Long,
                     fpp: Double = 0.01): DataFrame = {
    val oldH = oldDocs.select(md5(col(textCol)).as("__h")).distinct()
    val bf = BloomJoin.keyBloom(oldH, "__h", expectedOld, fpp)
    val bc = newDocs.sparkSession.sparkContext.broadcast(bf)
    val withH = newDocs.withColumn("__h", md5(col(textCol)))
    // null text → null digest → null probe: !null and null are BOTH
    // filtered, silently dropping the row — diverging from plain
    // left_anti semantics (a null key never matches, row kept). Route
    // null digests to the definite-new branch explicitly.
    val probe = coalesce(BloomJoin.mightContain(bc, col("__h")), lit(false))
    val definiteNew = withH.filter(!probe)
    // USING-join output moves the join column to the front — union by
    // NAME, a positional union would misalign every column after it
    val survivors = withH.filter(probe).join(oldH, Seq("__h"), "left_anti")
    definiteNew.unionByName(survivors).drop("__h")
  }

  /** Widen a narrow scan to the cluster's default parallelism before a
    * CPU-heavy generation stage. At real scale the file splits already
    * provide parallelism and this is a no-op; locally (and on any corpus
    * packed into few files) a small scan is 1-2 splits, which would run
    * the most expensive map stage of the whole operator on 1-2 cores. */
  private def widen(df: DataFrame): DataFrame = ScanStats.widen(df)

  /** PRE-distinct (id, shingle) exploded relation — the raw tokenize +
    * shingle-explode pass both Jaccard keyings derive from (the seam
    * [[recallAudit]] shares so one corpus pass feeds both the exact and
    * the MinHash graders). Tokenization is projected BELOW the explode
    * so it runs once per document inside whole-stage codegen — see
    * [[TextOps.shinglesOfWords]] for why inlining it into the generator
    * is quadratic. */
  private def shingleRelRaw(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    widen(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), TextOps.words(col("text")).as("w"))
      .select(col("id"), explode(TextOps.shinglesOfWords(col("w"), n)).as("sh"))

  /** Distinct (id, shingle) exploded relation. */
  private def shingleRel(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    shingleRelRaw(docs, idCol, textCol, n).distinct()

  /** [[shingleRel]] with shingles xxhash64-projected to longs BEFORE the
    * dedup shuffle: the distinct — the widest shuffle of the Jaccard
    * operators — moves 8-byte keys instead of ~25-byte shingle strings,
    * and every downstream op inherits the narrow rows. Identical to
    * hashing after the distinct (a collision conflates the same two
    * shingles either way — see the collision budget note in
    * [[ngramJaccardPairs]]). */
  private def shingleRelHashed(docs: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame =
    hashedDistinct(shingleRelRaw(docs, idCol, textCol, n))

  /** The exact pass's keying of a [[shingleRelRaw]] relation. */
  private def hashedDistinct(raw: DataFrame): DataFrame =
    raw.select(col("id"), xxhash64(col("sh")).as("sh")).distinct()

  /** Materialize a multi-consumer intermediate once: persist with lineage
    * kept (cluster-safe — a lost executor recomputes from lineage, where
    * a localCheckpoint would fail the job) and force it eagerly so every
    * downstream consumer plans an InMemoryTableScan instead of re-codegen-
    * compiling the whole subtree. Paired with [[finalized]], which releases
    * it once the operator's result is computed. */
  private def materialize(df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cached
  }

  /** Eagerly compute an operator's result, then release its large
    * [[materialize]]d intermediates. The result (pair lists — orders of
    * magnitude smaller than the shingle/signature relations it derives
    * from) is persisted so consumers never re-derive the unpersisted
    * lineage; a long-lived session thus accumulates only small result
    * blocks, which the caller may drop with `result.unpersist()` when
    * done. */
  private def finalized(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Exact n-gram Jaccard pairs above `threshold` (id_a < id_b).
    *
    * PPJoin-style prefix filtering (Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08 — public algorithms): order each document's shingles
    * rarest-first by corpus frequency; two sets with Jaccard ≥ t must
    * share an element within their first `|X| - ⌈t·|X|⌉ + 1` shingles, so
    * the candidate self-join runs only on those prefixes — the frequent
    * shingles that cause the quadratic blowup of a naive inverted-index
    * join never enter the join. A length filter (`t·|B| ≤ |A|`) prunes
    * further, then candidates are verified with an exact intersection over
    * full sorted shingle arrays. Output is IDENTICAL to the naive join
    * (same exact Jaccard), at near-linear cost — the property that lets
    * this run at corpus scale.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8): DataFrame =
    ngramJaccardPairsOn(shingleRelHashed(docs, idCol, textCol, n), threshold)

  /** [[ngramJaccardPairs]] over a pre-built hashed-distinct shingle
    * relation — the seam that lets [[recallAudit]] feed both graded
    * passes from one shared tokenization (r15 verdict item 3). */
  private def ngramJaccardPairsOn(sh0: DataFrame,
                                  threshold: Double): DataFrame = {
    // Doc-level shape: one row per document carrying its distinct shingles
    // in global rarest-first canonical order (corpus frequency, shingle).
    // This single aggregate replaces the round-1 two-Window formulation
    // (row_number + count over partitionBy id): no window sorts, and the
    // prefix, the length filter, and the verification arrays all project
    // off the same cached relation — ~½ the codegen stages, which is the
    // fixed cost that dominated this operator under the driver bench.
    //
    // Shingles are xxhash64-projected to fixed-width longs first: every
    // downstream op (freq groupBy, canonical sort, prefix self-join,
    // array_intersect verification) runs on 8-byte keys instead of ~25-
    // byte strings — smaller shuffles, cheaper compares. Jaccard over the
    // hashed sets equals Jaccard over the string sets unless two distinct
    // shingles collide in 64 bits (P ≈ n²/2⁶⁵ — for a 10⁹-shingle corpus,
    // ~3·10⁻²; per-pair effect is a ±1 on one intersection count). The
    // canonical order becomes (df, hash) instead of (df, shingle) — any
    // global total order is a valid PPJoin prefix order, so output is
    // unchanged.
    // sh has two consumers (the df aggregate and the ranked join) —
    // persist lazily so the tokenize + shingle explode + distinct runs
    // once, not twice (released with docsArr in the finalized call)
    val sh = sh0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val docsArr = materialize(
      sh.join(freq, "sh")
        .groupBy("id")
        .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ranked"))
        .select(col("id"),
          transform(col("ranked"), r => r.getField("sh")).as("arr"),
          size(col("ranked")).as("sz")))
    // prefix = first |X| - ceil(t|X|) + 1 shingles in canonical order
    // (-1e-9: fp round-up of t·|X| would shorten the prefix → unsafe)
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz") - 1e-9) + 1)
      .cast("int")
    val prefix = docsArr.select(col("id"), col("sz"),
      explode(slice(col("arr"), lit(1), prefixLen)).as("sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          // length filter: jacc ≥ t ⇒ t·max ≤ min
          col("a.sz") >= lit(threshold) * col("b.sz") &&
          col("b.sz") >= lit(threshold) * col("a.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verification over full shingle sets (set semantics — arr is
    // distinct by construction, so array_intersect is exact)
    finalized(cand
      .join(docsArr.select(col("id").as("id_a"), col("arr").as("seta"), col("sz").as("sa")), "id_a")
      .join(docsArr.select(col("id").as("id_b"), col("arr").as("setb"), col("sz").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("seta"), col("setb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") > threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      docsArr, sh)
  }

  /** Naive inverted-index form of [[ngramJaccardPairs]] — O(Σ df²) pair
    * generation; kept as the correctness cross-check for the prefix-
    * filtered version. */
  def ngramJaccardPairsNaive(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // Same hashed relation as ngramJaccardPairs — keeps the two
    // formulations byte-identical for the cross-validation spec.
    val sh = shingleRelHashed(docs, idCol, textCol, n)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sa"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sb"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") > threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Mersenne-prime modulus of the md5-arithmetic permutation family. */
  val minhashP: Long = 2147483647L

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** (a, b) coefficients of permutation `i` in the md5-arithmetic
    * family — SplitMix64-derived so the SQL oracle builder generates the
    * identical literals. */
  def minhashCoeffs(i: Int): (Long, Long) = (
    java.lang.Math.floorMod(mix64(0xA5EED00L + i), minhashP - 1) + 1,
    java.lang.Math.floorMod(mix64(0xB1A5EDL + i), minhashP))

  /** MinHash signatures: one aggregation pass computes all `numPerm`
    * permutation minima.
    *
    * Two permutation families, selected by `family` (the same
    * production-vs-oracle split the sources' `transformDigest` uses):
    *
    *  - `"xxhash64"` (production default): `xxhash64(shingle, i)` —
    *    multi-column hash, the permutation index hashed as a second
    *    column, NOT `xxhash64(concat(shingle, "#i"))`: the concat form
    *    allocates numPerm strings per shingle row (an 8M+ allocation
    *    storm per pass at sf0.1 that degrades badly under heap
    *    pressure).
    *  - `"md5"` (oracle family): ONE md5 per shingle — the first 15 hex
    *    chars (60 bits, exact in a signed long) parsed base-16, reduced
    *    mod the Mersenne prime 2^31−1 — then `numPerm` universal-hash
    *    permutations `(aᵢ·h + bᵢ) mod p` with [[minhashCoeffs]]
    *    literals. Every operand stays < 2^62 (no overflow in either
    *    engine, where DuckDB would error), and every step is plain SQL
    *    arithmetic, so the whole MinHash+LSH pipeline gets a value-level
    *    oracle instead of a rows-only check, at near-xxhash64 cost (the
    *    earlier md5-per-permutation form measured 5× slower at sf0.1). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numPerm: Int = 32, shingleN: Int = 3,
                        family: String = "xxhash64"): DataFrame =
    minhashSignaturesOn(shingleRel(docs, idCol, textCol, shingleN),
      numPerm, family)

  /** [[minhashSignatures]] over a pre-built distinct (id, sh) shingle
    * relation — the [[recallAudit]] seam. */
  private def minhashSignaturesOn(sh0: DataFrame, numPerm: Int,
                                  family: String): DataFrame = {
    val (sh, perm: (Int => Column)) = family match {
      case "md5" =>
        val base = sh0.withColumn("h0",
          conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long")
            % minhashP)
        (base, (i: Int) => {
          val (a, b) = minhashCoeffs(i)
          (col("h0") * a + b) % minhashP
        })
      case _ => (sh0, (i: Int) => xxhash64(col("sh"), lit(i)))
    }
    // distinct-shingle count rides along for free (shingleRel is
    // distinct) — the size term containment estimation needs
    val mins = (0 until numPerm).map(i => min(perm(i)).as(s"h$i")) :+
      count(lit(1)).as("sz")
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs + signature-estimated Jaccard ≥ `threshold`.
    * bands × rowsPerBand must equal numPerm. The band bucket key is
    * murmur `hash(...)` for the production family and the `|`-joined
    * decimal band values for the `"md5"` oracle family (bucket keys are
    * an equality proxy — a wider string key only changes constants, and
    * DuckDB reproduces it verbatim). */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numPerm: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5, shingleN: Int = 3,
                   family: String = "xxhash64"): DataFrame =
    minhashPairsOn(
      minhashSignatures(docs, idCol, textCol, numPerm, shingleN, family),
      numPerm, bands, threshold, family)

  /** [[minhashPairs]] over pre-built signatures — the [[recallAudit]]
    * seam. */
  private def minhashPairsOn(sigs: DataFrame, numPerm: Int, bands: Int,
                             threshold: Double, family: String): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val sigArr = array((0 until numPerm).map(i => col(s"h$i")): _*)
    // Materialize: the numPerm-aggregate signature subtree would otherwise
    // be codegen'd three times (band hashing + both self-join sides).
    val withSig = materialize(sigs.select(col("id"), sigArr.as("sig")))
    val buckets = bandRel(withSig, numPerm, bands, family)
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("id_a", "id_b")
    finalized(cand
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / numPerm)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard")),
      withSig)
  }

  /** MinHash-ESTIMATED containment pairs — the linear-cost scale twin of
    * [[containmentPairs]] (which runs an exact inverted-index join,
    * bounded only by the df cap). Containment is derivable from the
    * signature-estimated Jaccard plus EXACT per-doc distinct-shingle
    * counts, which ride the signature aggregate for free:
    * `|A∩B| = Ĵ/(1+Ĵ)·(|A|+|B|)` (from J = I/(|A|+|B|−I)), so
    * `Ĉ = Ĵ·(|A|+|B|) / ((1+Ĵ)·min(|A|,|B|))`, clamped to 1.
    *
    * Caveat vs the exact operator: LSH banding recalls pairs by
    * JACCARD, and a short quote inside a long book has high containment
    * but low Jaccard — so this twin is for near-dup-scale containment
    * (excerpts comparable to their container), while extreme
    * small-in-huge cases still need [[containmentPairs]]'s index (that
    * asymmetry is inherent to signature banding, not this
    * implementation). Candidate generation, banding, and the smaller-
    * side direction rule are [[minhashPairs]]'s. Returns
    * (contained_id, container_id, est_containment). */
  def containmentMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
                              numPerm: Int = 32, bands: Int = 8,
                              threshold: Double = 0.9, shingleN: Int = 3,
                              family: String = "xxhash64"): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val sigs = minhashSignatures(docs, idCol, textCol, numPerm, shingleN,
      family)
    val sigArr = array((0 until numPerm).map(i => col(s"h$i")): _*)
    val withSig = materialize(
      sigs.select(col("id"), sigArr.as("sig"), col("sz")))
    val buckets = bandRel(withSig, numPerm, bands, family)
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("siga"), col("b.sig").as("sigb"),
        col("a.sz").as("sa"), col("b.sz").as("sb"))
      .dropDuplicates("id_a", "id_b")
    val estJ = size(filter(zip_with(col("siga"), col("sigb"),
      (x, y) => x === y), b => b)).cast("double") / numPerm
    finalized(cand
      .withColumn("est_containment", round(least(lit(1.0),
        estJ * (col("sa") + col("sb")) /
          ((estJ + 1.0) * least(col("sa"), col("sb")))), 6))
      .filter(col("est_containment") >= threshold)
      .withColumn("contained_id",
        when(col("sa") < col("sb"), col("id_a"))
          .when(col("sb") < col("sa"), col("id_b"))
          .otherwise(col("id_a")))
      .withColumn("container_id",
        when(col("contained_id") === col("id_a"), col("id_b"))
          .otherwise(col("id_a")))
      .select(col("contained_id"), col("container_id"),
        col("est_containment")),
      withSig)
  }

  /** Pair-level precision/recall audit of an approximate dedup pass
    * against an exact one — the text-dedup twin of
    * [[Similarity.recallAtK]], i.e. the tuning loop a production near-dup
    * deployment runs when picking numPerm/bands/threshold: feed it
    * [[ngramJaccardPairs]] (exact, PPJoin-filtered) and
    * [[minhashPairs]] (banded estimate) over the same corpus and read
    * one summary row (n_exact, n_approx, n_both, precision, recall).
    *
    * Scale shape: two distinct projections of 16-byte id pairs + one
    * semi join; the three counts are single-row aggregates, so the audit
    * costs a fraction of either dedup pass it grades. */
  def pairAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("id_a"), col("id_b")).distinct()
    val a = approx.select(col("id_a"), col("id_b")).distinct()
    val both = e.join(a, Seq("id_a", "id_b"), "left_semi")
    e.agg(count(lit(1)).as("n_exact"))
      .crossJoin(a.agg(count(lit(1)).as("n_approx")))
      .crossJoin(both.agg(count(lit(1)).as("n_both")))
      // empty-set conventions (guarded — an unguarded /0 is NULL in
      // Spark but an error in some SQL engines): no approx pairs → no
      // false positives → precision 1.0; no exact pairs → nothing to
      // find → recall 1.0
      .select(col("n_exact"), col("n_approx"), col("n_both"),
        when(col("n_approx") > 0,
          round(col("n_both").cast("double") / col("n_approx"), 6))
          .otherwise(lit(1.0)).as("precision"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double") / col("n_exact"), 6))
          .otherwise(lit(1.0)).as("recall"))
  }

  /** [[pairAudit]] of [[ngramJaccardPairs]] (exact) against
    * [[minhashPairs]] (banded estimate) over ONE shared tokenize +
    * shingle-explode pass (r15 verdict item 3: the two standalone
    * operators each paid their own corpus tokenization — the single
    * most expensive stage of either pass). The raw pre-distinct
    * (id, shingle) relation persists lazily; the exact pass derives
    * its hashed-distinct keying and the MinHash pass its
    * string-distinct keying from the same cache, so each pass's
    * shuffles (and therefore its output) are IDENTICAL to its
    * standalone twin — only the duplicated explode compute is shared.
    * All corpus-sized intermediates, including both passes' persisted
    * pair results, are released once the one-row audit materializes. */
  def recallAudit(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, exactThreshold: Double = 0.5,
                  numPerm: Int = 32, bands: Int = 8,
                  approxThreshold: Double = 0.5,
                  family: String = "xxhash64"): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val raw = shingleRelRaw(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = ngramJaccardPairsOn(hashedDistinct(raw), exactThreshold)
    val approx = minhashPairsOn(
      minhashSignaturesOn(raw.distinct(), numPerm, family),
      numPerm, bands, approxThreshold, family)
    finalized(pairAudit(exact, approx), raw, exact, approx)
  }

  /** (id, sig, band, bh) band-bucket relation over a (id, sig) signature
    * relation — the unit both the in-query LSH join and the persisted
    * index store. */
  private def bandRel(withSig: DataFrame, numPerm: Int, bands: Int,
                      family: String): DataFrame = {
    val rows = numPerm / bands
    def bandKey(b: Int): Column = {
      val cols = (b * rows until (b + 1) * rows).map(i => col("sig")(i))
      if (family == "md5") concat_ws("|", cols: _*).as(s"b$b")
      else hash(cols: _*).cast("string").as(s"b$b")
    }
    val bandHashes = array((0 until bands).map(bandKey): _*)
    // generic pass-through: extra caller columns (e.g. the containment
    // estimator's sz) survive the explode; existing callers pass (id, sig)
    withSig.select(withSig.columns.map(col) :+
      posexplode(bandHashes).as(Seq("band", "bh")): _*)
  }

  /** Persist the MinHash LSH index: the exploded band-bucket relation
    * `(id, sig, band, bh)` as a table BUCKETED by bucket hash (via
    * [[graft.engine.Bucketing]]). The recurring-crawl posture for text
    * dedup at corpus scale — the prior corpus pays its shingle +
    * signature pass ONCE at index-build time; every subsequent batch
    * ([[minhashIncremental]]) joins the bucketed layout with no
    * recompute and no corpus-side shuffle (the index side is already
    * co-located on the join key). A rebuild resets the streaming
    * ingest's `_batches` ledger and `_verdicts`
    * ([[graft.engine.PersistedIndex.build]]), so a stream restarted at
    * the same checkpoint applies its batch 0 against the new index. */
  def writeMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        table: String, path: String, numPerm: Int = 32,
                        bands: Int = 8, shingleN: Int = 3,
                        family: String = "xxhash64",
                        buckets: Int = 8): Unit = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    graft.engine.PersistedIndex.build(docs.sparkSession, table) {
      val sigs = minhashSignatures(docs, idCol, textCol, numPerm, shingleN,
        family)
      val sigArr = array((0 until numPerm).map(i => col(s"h$i")): _*)
      graft.engine.Bucketing.writeBucketed(
        bandRel(sigs.select(col("id"), sigArr.as("sig")), numPerm, bands,
          family),
        table, path, Seq("bh"), buckets)
    }
  }

  /** Append a new document batch's band-bucket rows to a persisted
    * MinHash index — the FAISS-add posture on the dedup side, closing
    * the recurring-crawl loop [[minhashIncremental]] probes: without
    * this the index is frozen at build time and batch N+1 can never
    * near-dup against batch N's accepted docs. Signatures are
    * deterministic (seeded permutations), so build(A) + append(B) is
    * ROW-IDENTICAL to a fresh build over A ∪ B — probing an appended
    * index ≡ probing the fresh union index (gate-pinned, the s31
    * conservation device). Append cost is ∝ |batch| (its shingle +
    * signature pass — irreducible for never-seen docs). */
  def appendMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         newDocs: DataFrame, idCol: String, textCol: String,
                         table: String, numPerm: Int = 32, bands: Int = 8,
                         shingleN: Int = 3, family: String = "xxhash64",
                         buckets: Int = 8): Unit = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val sigs = minhashSignatures(newDocs, idCol, textCol, numPerm, shingleN,
      family)
    val sigArr = array((0 until numPerm).map(i => col(s"h$i")): _*)
    graft.engine.Bucketing.appendBucketed(
      bandRel(sigs.select(col("id"), sigArr.as("sig")), numPerm, bands,
        family),
      table, Seq("bh"), buckets)
    spark.catalog.refreshTable(table)
  }

  /** Near-dup candidates of a NEW batch against a persisted MinHash
    * index ([[writeMinhashIndex]]): the batch computes its own
    * signatures (it was never seen before — that pass is irreducible),
    * then probes the indexed band buckets; estimated Jaccard comes from
    * the stored signatures, exactly as [[minhashPairs]] scores its
    * candidates. Returns `(new_id, old_id, est_jaccard)` with
    * `est_jaccard ≥ threshold`.
    *
    * Scale shape: only the new batch shuffles — the index side streams
    * its co-located bucket files; cost per batch is ∝ |batch| + the
    * candidate volume, never ∝ |corpus|. */
  def minhashIncremental(spark: org.apache.spark.sql.SparkSession,
                         table: String, newDocs: DataFrame, idCol: String,
                         textCol: String, numPerm: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5, shingleN: Int = 3,
                         family: String = "xxhash64"): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val sigs = minhashSignatures(newDocs, idCol, textCol, numPerm, shingleN,
      family)
    val sigArr = array((0 until numPerm).map(i => col(s"h$i")): _*)
    val fresh = materialize(
      bandRel(sigs.select(col("id"), sigArr.as("sig")), numPerm, bands,
        family))
    val idx = graft.engine.Bucketing.readBucketed(spark, table)
    val cand = fresh.as("a").join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("new_id"), col("b.id").as("old_id"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("new_id", "old_id")
    finalized(cand
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / numPerm)
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("old_id"),
        round(col("est_jaccard"), 6).as("est_jaccard")),
      fresh)
  }

  /** Benchmark decontamination: flag training documents sharing ≥1
    * distinct word n-gram with any document of an evaluation set — the
    * standard train/test-overlap check run before training on a scraped
    * corpus. Returns (id, n_shared) for contaminated training docs.
    *
    * Scale shape: the eval side (benchmarks — small by construction)
    * reduces to a DISTINCT shingle set and BROADCASTs; the corpus-side
    * join is then map-side, and the only corpus-wide shuffle is the
    * per-doc count. If the eval set ever outgrows broadcast, drop the
    * hint and the same plan runs as a shuffle semijoin. */
  def contaminated(train: DataFrame, evalDocs: DataFrame,
                   idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // hashed on BOTH sides: the broadcast eval set ships 8-byte keys and
    // the corpus-side probe compares longs (same collision budget note
    // as the Jaccard operators — an n-gram overlap is an equi-match of
    // the same strings under either representation)
    val trainSh = shingleRelHashed(train, idCol, textCol, n)
    val evalSh = shingleRelHashed(evalDocs, idCol, textCol, n)
      .select(col("sh")).distinct()
    trainSh.join(broadcast(evalSh), "sh")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-document duplicated-span detection (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the exact-substring dedup signal, re-expressed
    * relationally): every `w`-token window at stride 1 is fingerprinted,
    * and a window whose fingerprint occurs in ≥ 2 DISTINCT documents is
    * a duplicated span. Returns one row per document with ≥ 1 window:
    * (doc id, duplicated-window count, total windows, fraction) — the
    * per-document signal a pipeline thresholds on (the paper cuts the
    * spans themselves; the relational form feeds the same decision).
    *
    * Scale shape: the window explode is |tokens| rows of 32-byte
    * fingerprints (never the window text); the fingerprint frequency
    * table is ONE map-side-combined aggregate, and the per-document
    * rollups shuffle on fingerprint/id only. Positional windows, not
    * the distinct shingle set — position is what distinguishes a span
    * repeated inside one document (not counted: `ndocs ≥ 2` needs two
    * documents) from one repeated across documents. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 5): DataFrame = {
    // widen first: the window fingerprinting is cpu-heavy codegen, and a
    // 1-split scan would serialize it (the p08 lesson)
    val wins = widen(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), TextOps.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= w)
      // the CASE guard repeats the filter INSIDE the expression: the
      // descending sequence(1, 0) corner (see shinglesOfWords) must be
      // unreachable under any evaluation order the optimizer picks
      .select(col("id"), expr(
        s"CASE WHEN size(ws) >= $w THEN " +
          s"transform(sequence(1, size(ws) - ${w - 1}), " +
          s"p -> md5(array_join(slice(ws, p, $w), ' '))) " +
          s"ELSE cast(array() as array<string>) END").as("fps"))
    // shuffle discipline over the |tokens|-sized window relation:
    // total windows come from the ARRAY LENGTH (one row per document —
    // no shuffle at all), and the exploded relation is pre-aggregated
    // to (fp, id, n) first — the map-side partial collapses within-doc
    // repeats before anything wide moves
    val tot = wins.select(col("id"), size(col("fps")).cast("long")
      .as("total_windows"))
    val perDoc = wins.select(col("id"), explode(col("fps")).as("fp"))
      .groupBy("fp", "id").agg(count(lit(1)).as("n"))
    // ndocs per fingerprint as ONE window over the (fp, id) relation —
    // one row per distinct (fp, id), so count(*) over the fp partition
    // IS the distinct-doc count. The former groupBy(fp) + join-back
    // re-shuffled the relation twice (the aggregate exchange plus the
    // sort-merge join's) for the same answer (guide §2.4: two ops keyed
    // the same way share one exchange).
    val dups = perDoc
      .withColumn("ndocs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("fp")))
      .filter(col("ndocs") >= 2)
      .groupBy("id").agg(sum("n").as("dup_windows"))
    tot.join(dups, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        col("total_windows"),
        round(coalesce(col("dup_windows"), lit(0L)) / col("total_windows"), 4)
          .as("dup_fraction"))
  }

  /** Cross-document duplicate-span REMOVAL — the transform half of
    * [[duplicateSpans]]' signal (Lee et al. 2021, arXiv:2107.06499 cuts
    * the duplicated substrings themselves, not the documents): every
    * `w`-token window whose fingerprint occurs in ≥ 2 distinct
    * documents marks its w token positions covered, and each document
    * is rebuilt from its uncovered tokens in order. Boilerplate shared
    * across pages disappears from every copy while the surrounding
    * unique prose survives — the aggressive sibling of dropping whole
    * near-dup documents.
    *
    * Scale shape: the window relation is |tokens| rows of 32-byte
    * fingerprints; duplicated fingerprints come from one map-side-
    * combined aggregate; coverage is a per-doc position explode
    * (bounded by w·dup windows) distinct'd on (id, pos); the rebuild
    * anti-joins the token relation and re-assembles per doc with one
    * hash shuffle + in-group sort. Skew follows document length, which
    * the explode already bounded. Returns (doc_id, clean_text,
    * n_tokens, n_removed). */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           w: Int = 5): DataFrame = {
    // base feeds THREE consumers (window fingerprints, the token
    // relation, the per-doc length spine) — persist it or each one
    // re-scans and re-tokenizes the corpus
    val base = materialize(widen(docs.select(col(idCol).as("id"),
        TextOps.words(coalesce(col(textCol), lit(""))).as("ws"))))
    // positions+fingerprints PROJECTED below the explode (generator
    // expressions evaluate interpreted — the shingleRel discipline)
    val wins = base.filter(size(col("ws")) >= w)
      .select(col("id"), expr(
        s"CASE WHEN size(ws) >= $w THEN " +
          s"transform(sequence(1, size(ws) - ${w - 1}), " +
          s"p -> struct(p AS p, md5(array_join(slice(ws, p, $w), ' ')) AS fp)) " +
          s"ELSE cast(array() as array<struct<p:int,fp:string>>) END").as("pfs"))
      .select(col("id"), explode(col("pfs")).as("pf"))
      .select(col("id"), col("pf.p").as("p"), col("pf.fp").as("fp"))
    // "fingerprint in ≥2 distinct docs" as ONE window over wins:
    // min(id) ≠ max(id) over the fp partition ⟺ count_distinct(id) ≥ 2.
    // The former groupBy(fp) + join-back shuffled the |tokens|-sized
    // wins relation twice (aggregate exchange + the join's); the window
    // form shuffles it once and drops the join outright (guide §2.4).
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val covered = wins
      .withColumn("mn", min(col("id")).over(wFp))
      .withColumn("mx", max(col("id")).over(wFp))
      .filter(col("mn") =!= col("mx"))
      .select(col("id"), explode(sequence(col("p"), col("p") + lit(w - 1)))
        .as("pos"))
      .distinct()
      // two consumers (the keep anti-join, the removal counts) — persist
      // lazily so the window+explode chain runs once; released below
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = base
      .select(col("id"), posexplode(col("ws")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(concat_ws(" ",
      expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
      .as("clean_text"))
    val removed = covered.groupBy("id").agg(count(lit(1)).as("n_removed"))
    val result = base.select(col("id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .join(removed, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
    // release the corpus-sized token cache once the (document-sized)
    // result is computed — the sibling operators' materialize/finalized
    // pairing; without it repeated calls in a long session accumulate
    // cached token relations
    finalized(result, base, covered)
  }

  /** Connected-components clustering over a near-dup pair list — the step
    * that turns pairwise evidence (from [[ngramJaccardPairs]],
    * [[minhashPairs]], [[simhashPairs]] or
    * [[Similarity.lshNearDupPairs]]) into dedup decisions: every document
    * in a component is labeled with the component's minimum id, which IS
    * the canonical keeper (keep exactly the rows where `id = cluster`).
    * Without this step a pipeline that drops `id_b` of every pair
    * over-deletes on transitive chains (a~b, b~c deletes b AND c even
    * though c's only witness was deleted).
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round takes `lbl(v) ← min(lbl(v), min over neighbours' labels)`
    * and then contracts `lbl(v) ← lbl(lbl(v))`, the doubling idea of the
    * MapReduce connected-components literature (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Label
    * chains halve every round, so rounds grow with log(diameter), not
    * diameter. Each round shuffles only the pair relation and the label
    * table (both ≪ corpus — nodes appearing in ≥1 pair); the corpus
    * itself is never touched. Convergence is a changed-label count — a
    * scalar aggregate per round, no collect. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
               maxRounds: Int = 25,
               driverSolveMaxEdges: Long = 2L * 1000 * 1000): DataFrame = {
    val spark = pairs.sparkSession
    // Per-round materialization for an ITERATIVE plan: persist + force,
    // then rebase the frame onto the materialized RDD (a flat LogicalRDD
    // scan). Without the rebase each round's Catalyst tree embeds BOTH
    // join branches of the previous round's tree — 2^round plan nodes,
    // which stalls analysis after ~15 rounds (measured: the 40-node-path
    // spec never finished). The RDD keeps full lineage — a lost cache
    // block recomputes through the chain (slower, but correct on a
    // cluster, unlike localCheckpoint which fails the job); long-running
    // deployments can additionally set a reliable checkpoint dir and
    // swap this for df.checkpoint(), the GraphX-Pregel pattern.
    // Reliable checkpoints beat the RDD rebase when a checkpoint dir is
    // configured (Bench/Verify set a local one; a cluster deployment
    // points it at shared storage): the rebase keeps FULL lineage, so by
    // round k the scheduler re-walks a k-deep RDD ancestry — plus its
    // accumulated shuffle/broadcast registrations, which the context
    // cleaner can't release while the chain pins them — on EVERY job it
    // submits. Measured on the sf0.1 pair graph (7 rounds, constant-size
    // label table): per-round wall grows 2.8 s → 19 s with the rebase,
    // flat ~1 s with checkpoints. checkpoint() is an executor-loss-safe
    // truncation (recompute reads the checkpoint files, not executor
    // memory), unlike localCheckpoint, which fails the job.
    val useCheckpoint = spark.sparkContext.getCheckpointDir.isDefined
    def iterMat(df: DataFrame): (DataFrame, DataFrame, Long) = {
      if (useCheckpoint) {
        val c = df.checkpoint() // eager; lineage truncated to the files
        (c, c, c.count())
      } else {
        val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = c.count()
        (spark.createDataFrame(c.rdd, c.schema), c, n)
      }
    }
    val debug0 = sys.env.contains("GRAFT_CC_DEBUG")
    val tEdges = System.nanoTime()
    // Double the edges with ONE pass over `pairs` (explode), not a
    // self-union: a union references the pairs subtree twice, and when
    // pairs is itself an expensive operator output (the all-pairs cosine
    // join of d07's shape) the un-materialized subtree would execute
    // twice — measured 12.2 s → 5 s for clusters-over-cosine-pairs.
    val (edges, edgesCache, nEdges) = iterMat(
      pairs.select(explode(array(
          struct(col(aCol).as("src"), col(bCol).as("dst")),
          struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct())
    // Small-graph fast path: the pair graph is pairwise EVIDENCE, orders
    // of magnitude smaller than the corpus; when the (already distinct,
    // size known from the forcing count) edge list fits on the driver,
    // union-find there beats log(diameter) distributed rounds — the same
    // size-gated reasoning as a broadcast join, with the distributed
    // rounds below as the unconditional fallback. 2M doubled edges is
    // ~32 MB of longs; a 100 TB corpus whose near-dup graph exceeds the
    // gate takes the distributed path automatically.
    if (debug0)
      System.err.println(f"CC edges=$nEdges mat=${(System.nanoTime() - tEdges) / 1e9}%.2fs")
    if (nEdges <= driverSolveMaxEdges) {
      driverSolve(spark, edges) match {
        case Some(out) =>
          if (debug0)
            System.err.println(f"CC driverSolve done t=${(System.nanoTime() - tEdges) / 1e9}%.2fs")
          edgesCache.unpersist(false)
          return out
        case None => () // unsupported id type — distributed path below
      }
    }
    var (labels, labelsCache, nNodes) = iterMat(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    // The label table's size is KNOWN (the forcing count), so choose the
    // round's join strategy explicitly: broadcast the label side while it
    // fits (each round is then one shuffle — the groupBy — instead of
    // three), shuffle joins beyond that. The planner can't make this call
    // itself: a LogicalRDD carries no stats, so it would never broadcast.
    val bcastLabels = nNodes < 5_000_000
    def side(df: DataFrame): DataFrame = if (bcastLabels) broadcast(df) else df
    var round = 0
    var done = false
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    while (!done && round < maxRounds) {
      val tRound = System.nanoTime()
      // min over own label and all neighbours' labels; the own label rides
      // along (tagged so max() picks exactly it) to make the convergence
      // check a free column of the round's single forcing aggregate.
      // NOT materialized separately: the whole round — propagation, the
      // pointer-jump self-join (which plans this subtree twice; the label
      // relation is tiny so recompute beats a second job), persist, and
      // the fixpoint check — is ONE Spark job, because per-round job
      // overhead, not data volume, dominates an iterative operator.
      val nullOwn = lit(null).cast(labels.schema("lbl").dataType)
      val prop = edges
        .join(side(labels.select(col("id").as("dst"), col("lbl"))), "dst")
        .select(col("src").as("id"), col("lbl"), nullOwn.as("own"))
        .union(labels.select(col("id"), col("lbl"), col("lbl").as("own")))
        .groupBy("id").agg(min("lbl").as("lbl"), max("own").as("own"))
      // pointer jump: follow the label one hop (lbl is itself a node id);
      // the forcing aggregate doubles as the exact fixpoint check (no
      // label moved in either the propagation or the jump this round).
      // A second jump per round was measured SLOWER (9.5 s → 12.9 s at
      // sf0.1): near-dup components are shallow, so the extra in-job
      // shuffles outweigh the saved rounds.
      val step = prop
        .join(side(prop.select(col("id").as("jid"), col("lbl").as("jlbl"))),
          col("lbl") === col("jid"), "left")
        .select(col("id"), coalesce(col("jlbl"), col("lbl")).as("lbl"),
          col("own"))
      val nextCache =
        if (useCheckpoint) step.checkpoint()
        else step.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val row = nextCache
        .agg(sum(when(col("lbl") =!= col("own"), 1L).otherwise(0L))).first()
      val changed = if (row.isNullAt(0)) 0L else row.getLong(0)
      val next =
        (if (useCheckpoint) nextCache
         else spark.createDataFrame(nextCache.rdd, nextCache.schema))
        .select(col("id"), col("lbl"))
      labelsCache.unpersist(false)
      labels = next
      labelsCache = nextCache
      done = changed == 0
      round += 1
      if (debug)
        System.err.println(f"CC round=$round changed=$changed wall=${(System.nanoTime() - tRound) / 1e9}%.2fs")
    }
    if (!done)
      System.err.println(
        s"[graft] Dedup.clusters: fixpoint NOT reached after $maxRounds " +
          s"rounds — labels are PARTIAL (some clusters not yet merged); " +
          s"raise maxRounds")
    finalized(labels.select(col("id"), col("lbl").as("cluster")),
      edgesCache, labelsCache)
  }

  /** Collect a small doubled edge list and solve components with
    * union-find; labels are the component minimum (identical to the
    * distributed fixpoint). Returns None for id types the min-ordering
    * here doesn't cover (caller falls back to the distributed rounds).
    * The result is a LOCAL relation — downstream joins against it
    * broadcast for free. */
  private def driverSolve(spark: org.apache.spark.sql.SparkSession,
                          edges: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val dt = edges.schema("src").dataType
    val lt: (Any, Any) => Boolean = dt match {
      case LongType => (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case IntegerType => (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case StringType => (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
      case _ => return None
    }
    val rows = edges.collect()
    val idx = new java.util.HashMap[Any, java.lang.Integer](rows.length * 2)
    val vals = new scala.collection.mutable.ArrayBuffer[Any]()
    def ix(v: Any): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else { idx.put(v, vals.size); vals += v; vals.size - 1 }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = { // path halving
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val (a, b) = (ix(r.get(0)), ix(r.get(1)))
      while (parent.size < vals.size) parent += parent.size
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
    }
    while (parent.size < vals.size) parent += parent.size
    // component minimum per root, then one row per node
    val minOf = new java.util.HashMap[Int, Any]()
    vals.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || lt(vals(i), cur)) minOf.put(r, vals(i))
    }
    val out = vals.indices.map(i => Row(vals(i), minOf.get(find(i))))
    val schema = StructType(Seq(
      StructField("id", dt, nullable = false),
      StructField("cluster", dt, nullable = false)))
    Some(spark.createDataFrame(
      new java.util.ArrayList[Row](out.asJava), schema))
  }

  /** 64-bit SimHash fingerprints from term-frequency-weighted word
    * hashes — one explode + one aggregation, builtins only. */
  def simhash64(docs: DataFrame, idCol: String, textCol: String,
                family: String = "xxhash64"): DataFrame = {
    // `family` follows the minhash convention: xxhash64 is the 64-bit
    // production hash; "md5" is the DuckDB-reproducible oracle family —
    // the first 15 hex chars of md5(word) parsed base-16 (60 bits, so
    // fingerprint bits 60..63 are structurally 0: a 60-bit SimHash,
    // identical on both sides, with the top banding chunk carrying 12
    // effective bits)
    val wordHash: Column =
      if (family == "md5")
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
      else xxhash64(col("w"))
    val terms = widen(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", wordHash)
    val bitSums = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$j"))
    val agg = terms.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map(j =>
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming`, candidates from 16-bit
    * chunk-equality banding. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   family: String = "xxhash64"): DataFrame = {
    // Materialize for the same reason as minhashPairs: the 64-bit-sum
    // aggregation subtree feeds both sides of the candidate self-join.
    val sigs = materialize(simhash64(docs, idCol, textCol, family))
    val chunks = array((0 until 4).map(c =>
      struct(lit(c).as("ci"),
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)
    val buckets = sigs.select(col("id"), col("simhash"), explode(chunks).as("ch"))
      .select(col("id"), col("simhash"), col("ch.ci"), col("ch.cv"))
    finalized(buckets.as("a").join(buckets.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming),
      sigs)
  }

  /** Soft dedup: instead of dropping near-duplicates, down-weight them —
    * every member of a near-dup cluster gets sampling weight 1/|cluster|,
    * so each distinct content contributes unit mass to the training mix
    * regardless of how many copies the crawl delivered (the
    * duplication-aware reweighting alternative to hard removal; keeps
    * paraphrase diversity a hard keep-one policy throws away).
    *
    * `universe` is the full corpus (idCol), `clusterOf` the (id, cluster)
    * relation from [[clusters]] — which only contains ids that appear in
    * ≥1 near-dup pair, so unpaired documents are singletons with weight
    * 1.0 via the left join. Cluster sizes aggregate BEFORE joining back:
    * the join carries one row per clustered id, never a cluster×cluster
    * blow-up, and the cluster-size relation is ≤ |clustered ids| ≪
    * corpus, so AQE broadcasts it when small. Weights are rounded to 6
    * places to pin the one division's float form across engines. */
  /** Source-priority dedup: when the same content arrives from several
    * sources (curated dump vs web mirror vs crawl), keep the copy from
    * the most trusted source instead of an arbitrary one — the keep-best
    * twin of the keep-first exact dedup. `priority` is a caller-derived
    * rank column (smaller = more trusted; typically a broadcast join
    * against a source-trust dimension or a when-chain over the source
    * name); ties break on the id for determinism. One shuffle on the
    * content digest (window partition key), like [[d01]]'s groupBy —
    * the digest is 32 bytes however wide the document is.
    * Returns the surviving rows (all input columns) + (priority,
    * n_copies). */
  def priorityKeep(docs: DataFrame, idCol: String, textCol: String,
                   priority: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("__pk_digest"))
    docs
      .withColumn("__pk_digest", md5(col(textCol)))
      .withColumn("__pk_prio", priority)
      .withColumn("__pk_rk", row_number().over(
        byKey.orderBy(col("__pk_prio").asc, col(idCol).asc)))
      .withColumn("n_copies", count(lit(1)).over(byKey))
      .filter(col("__pk_rk") === 1)
      .select(docs.columns.map(col) ++
        Seq(col("__pk_prio").as("priority"), col("n_copies")): _*)
  }

  def softWeights(universe: DataFrame, idCol: String,
                  clusterOf: DataFrame): DataFrame = {
    val sizes = clusterOf.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    val withSize = clusterOf.join(sizes, "cluster")
      .select(col("id"), col("cluster"), col("cluster_size"))
    universe.select(col(idCol).as("id"))
      .join(withSize, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)), 6).as("weight"))
  }

  /** Containment near-dup pairs: excerpt/quote detection. Jaccard misses
    * a short document wholly contained in a long one (the union term
    * dilutes it), so news/wiki pipelines also dedup on CONTAINMENT
    * C = |S(small) ∩ S(big)| / |S(small)| — ≥ `threshold` means the
    * smaller document's shingles are (almost) all inside the bigger one's
    * and the small side is the suppression candidate. The smaller side is
    * by distinct-shingle count, ties toward the lower id.
    *
    * Scale shape: same hashed-shingle inverted-index join as
    * [[ngramJaccardPairsNaive]] (8-byte keys through every shuffle).
    * PPJoin prefix filtering does NOT apply — containment has no length
    * filter (a 10-shingle quote can sit inside a 10⁶-shingle book), so
    * the candidate join runs the full index; production bounds the
    * blow-up by capping shingle df (a shingle in >maxDf docs is
    * boilerplate, not evidence — same cap CCNet applies).
    *
    * The score is containment over the INFORMATIVE (df ≤ maxDf) shingle
    * space: boilerplate shingles count toward neither the intersection
    * nor the denominator, so a true substring still scores 1.0 (scoring
    * pruned intersections against unpruned sizes would bias every score
    * low as soon as one shared shingle crossed the cap). Documents whose
    * shingles are ALL boilerplate have no informative evidence either
    * way and produce no pairs. Returns
    * (contained_id, container_id, containment). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.9,
                       maxDf: Int = 1000): DataFrame =
    containmentPairsImpl(docs, idCol, textCol, n, threshold, maxDf,
      cache = true)

  /** [[containmentPairs]] with caching switchable off — `cache = false`
    * skips the materialize/finalized wrappers so PlansSpec can audit the
    * logical topology (persisting collapses the plan into an
    * InMemoryRelation the audit can't see through; the topology itself
    * is identical either way). */
  private[graft] def containmentPairsImpl(docs: DataFrame, idCol: String,
                                          textCol: String, n: Int,
                                          threshold: Double, maxDf: Int,
                                          cache: Boolean): DataFrame = {
    val sh = shingleRelHashed(docs, idCol, textCol, n)
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // three consumers (sizes + both self-join sides) — materialize once
    // or the whole shingle explode + df aggregate re-executes per branch
    val prunedRaw = sh.join(freq, "sh").filter(col("df") <= maxDf)
      .select("id", "sh")
    val pruned = if (cache) materialize(prunedRaw) else prunedRaw
    val sizes = pruned.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = pruned.as("a").join(pruned.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val result = inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sa"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sb"), "id_b")
      // smaller side = fewer distinct shingles, ties toward lower id (id_a)
      .withColumn("contained_id",
        when(col("sa") < col("sb"), col("id_a"))
          .when(col("sb") < col("sa"), col("id_b"))
          .otherwise(col("id_a")))
      .withColumn("container_id",
        when(col("contained_id") === col("id_a"), col("id_b"))
          .otherwise(col("id_a")))
      .withColumn("containment", col("inter").cast("double") /
        least(col("sa"), col("sb")))
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"),
        round(col("containment"), 6).as("containment"))
    if (cache) finalized(result, pruned) else result
  }

  /** Leak-free train/val/test split: every member of a near-dup cluster
    * lands in the SAME split, so no near-duplicate of a validation
    * document can sit in the training set — the split discipline any
    * honest held-out evaluation needs (splitting uniformly at random
    * leaks ~every duplicated document). The split is decided by a
    * deterministic hash of the cluster REPRESENTATIVE (min member id, the
    * [[clusters]] label; unclustered docs represent themselves), so it is
    * reproducible on any cluster size and stable under re-runs.
    * `pctTrain`/`pctVal` are percentage cut points of the 0-99 bucket
    * space; the rest is test.
    *
    * Scale shape: the cluster relation is ≤ |clustered ids| ≪ corpus
    * (AQE broadcasts it); the bucket is md5 arithmetic on the
    * representative — no shuffle beyond the one left join. Returns
    * (id, rep, bucket, split). */
  def leakFreeSplit(universe: DataFrame, idCol: String, clusterOf: DataFrame,
                    seed: String, pctTrain: Int = 90,
                    pctVal: Int = 5): DataFrame = {
    require(pctTrain + pctVal <= 100, "split percentages exceed 100")
    universe.select(col(idCol).as("id"))
      .join(clusterOf, Seq("id"), "left")
      .withColumn("rep", coalesce(col("cluster"), col("id")))
      .withColumn("bucket", splitBucket(col("rep"), seed))
      .withColumn("split", splitLabel(col("bucket"), pctTrain, pctVal))
      .select(col("id"), col("rep"), col("bucket"), col("split"))
  }

  /** 0-99 split bucket of a cluster representative: md5 arithmetic on
    * (seed, rep) — deterministic on any cluster size, DuckDB-replayable
    * (t08/t20's device). Shared by [[leakFreeSplit]] and
    * [[CorpusRelease]]. */
  private[operators] def splitBucket(rep: Column, seed: String): Column =
    pmod(conv(substring(md5(concat(lit(seed), rep.cast("string"))),
      1, 8), 16, 10).cast("long"), lit(100L))

  private[operators] def splitLabel(bucket: Column, pctTrain: Int,
                                    pctVal: Int): Column =
    when(bucket < pctTrain, "train")
      .when(bucket < pctTrain + pctVal, "val")
      .otherwise("test")
}
