package graft.pipeline

import graft.GraftStorage.Syntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Everything routes through hash-partitioned groupBys and equi-joins — no
  * cross joins on the corpus side — so each method survives a 1000-executor
  * 100 TB run: exact dedup is one shuffle on a 128-bit digest; MinHash
  * banding turns near-dup detection into equi-joins on band keys; the
  * n-gram path is the same count-based shared-element join used by
  * [[graft.ops.JaccardGraph]] (no array intersection at scale).
  *
  * Hashes are md5 (identical in every engine) so the DuckDB oracle can
  * verify signatures and candidates exactly.
  */
object Dedup {

  /** Exact dedup: one row per distinct text, keeping the smallest id.
    * O(n) + one shuffle on the digest; at 100 TB, hash first so the shuffle
    * moves 32-byte keys instead of documents.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Cross-source content-overlap matrix: for each unordered source
    * pair, how many DISTINCT unit keys (text digests, span digests,
    * shingles — whatever `keyCol` holds) occur in both — the
    * corpus-audit table that tells you which crawls/snapshots re-scrape
    * each other before you pay for global dedup (e.g. how much of a CC
    * dump a curated set already contains).
    *
    * Plan: distinct (key, source) — one digest-sized shuffle — then
    * `collect_set(source)` per key (bounded by the SOURCE COUNT, not
    * corpus size), explode the within-set pairs, and count. At 100 TB
    * nothing scales with the corpus except the first key-keyed
    * aggregate; the pair fan-out is ≤ sources²/2 per key.
    */
  def crossSourceOverlap(units: DataFrame, keyCol: String,
                         srcCol: String): DataFrame = {
    val perKey = units
      .select(col(keyCol).as("k"), col(srcCol).as("src")).distinct()
      .groupBy("k").agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
    // i is the 0-based position in the sorted set; the inner slice takes
    // everything after it → pairs emitted with source1 < source2, once
    perKey
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + 2, size(col("srcs"))), b =>
          struct(a.as("source1"), b.as("source2")))))).as("p"))
      .groupBy(col("p.source1").as("source1"), col("p.source2").as("source2"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[crossSourceOverlap]] at WHOLE-DOCUMENT granularity: shared keys
    * are md5 digests of the full text — "how many identical documents do
    * these two sources both carry".
    */
  def crossSourceDups(docs: DataFrame, textCol: String = "text",
                      srcCol: String = "source"): DataFrame =
    crossSourceOverlap(
      docs.select(md5(col(textCol)).as("digest"), col(srcCol)),
      "digest", srcCol)

  /** Distinct (id, shingle) pairs. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), explode(Text.shingles(col(textCol), n)).as("sh")).distinct()

  /** Per-doc DF-RANKED shingle-array hub, `(id, shs, nsh)` with `shs`
    * sorted ascending by (document frequency, shingle hash) — the shared
    * spine of the prefix-filter family ([[prefixFilteredPairs]],
    * [[containmentPairs]]). One persisted row per DOC (not per shingle):
    * ranks are a narrow posexplode away ([[explodeRanked]]), the verify
    * arrays are the hub itself, and the per-doc sort happens in-task
    * inside the aggregate instead of a window sort over the whole shingle
    * relation — replacing {df join → window rank+count → persist 50×
    * more rows → second groupBy for the arrays} with one aggregate.
    *
    * Shingles enter the hub HASH-ENCODED to 64-bit longs (xxhash64, the
    * standard shingle encoding every MinHash system uses): the distinct,
    * the df aggregate, the prefix/full equi-joins, and the verify arrays
    * all move 8-byte fixed-width keys instead of ~25-byte strings, and
    * the verify merge-walk compares registers instead of UTF8Strings
    * (measured: whole containment plan 6.8 s → ~4 s at sf0.1). The
    * downstream measures are exact MODULO 64-bit collisions, which only
    * matter when two distinct shingles of the SAME pair's union collide —
    * P ≈ |x∪y|²/2⁶⁵ ≈ 1e-13 per pair at typical document sizes; the
    * brute-force string-side oracles re-prove the no-collision outcome on
    * real data every round. (At 10¹² corpus shingles some global
    * collisions certainly exist, but a collision only perturbs a pair's
    * count when BOTH colliding shingles land in that one pair — the
    * per-pair bound is what matters, exactly like MinHash's own hash
    * assumption.)
    *
    * Struct sort order is lexicographic by field — (df, sh) — a total
    * order because (df, sh) is unique within a doc (shingles are distinct
    * per doc), so ranks are deterministic.
    */
  private[graft] def docShingleSets(docs: DataFrame, idCol: String,
                                    textCol: String, n: Int): DataFrame = {
    // hash BEFORE the distinct: the (id, sh) dedup shuffle is the widest
    // stage of the spine, and it narrows 3× when sh is already a long
    val sh = docs.select(col(idCol).as("id"),
        explode(Text.shingles(col(textCol), n)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sh"))
      .distinct()
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ranked"))
      .select(col("id"),
        transform(col("ranked"), _.getField("sh")).as("shs"),
        size(col("ranked")).as("nsh"))
      // `sorted` duplicates the shingles in plain UTF8-binary order for
      // the verify kernel ([[graft.functions.SortedIntersectCount]]'s
      // sortedness contract); `shs` keeps df-order for the ranks
      .withColumn("sorted", sort_array(col("shs")))
      .persistTracked()
  }

  /** `(id, sh, rnk, nsh)` shingle rows derived narrowly from the
    * [[docShingleSets]] hub — rnk is the 1-based position in the df-sorted
    * array, identical to the former `row_number` window.
    */
  private[graft] def explodeRanked(docsets: DataFrame): DataFrame =
    docsets.select(col("id"), col("nsh"), posexplode(col("shs")))
      .select(col("id"), col("col").as("sh"), (col("pos") + 1).as("rnk"), col("nsh"))

  /** [[explodeRanked]] restricted to the first `prefLen` positions by
    * slicing the array BEFORE the explode — identical rows to
    * `explodeRanked(docsets).filter(rnk <= prefLen)` (slice keeps
    * positions 1..prefLen and rnk is the position), at a fraction of the
    * explode/exchange volume. `prefLen` may reference `nsh`; it is always
    * ≥ 1 for thresholds < 1 (slice would reject a non-positive length).
    */
  private[graft] def explodePrefix(docsets: DataFrame, prefLen: Column): DataFrame =
    docsets.select(col("id"), col("nsh"),
        posexplode(slice(col("shs"), lit(1), prefLen)))
      .select(col("id"), col("col").as("sh"), (col("pos") + 1).as("rnk"), col("nsh"))

  /** MinHash signatures: numHashes min-values per doc, where hash i of a
    * shingle is the first 60 bits of md5(i || '|' || shingle) as a LONG.
    * Columns `m0 .. m{H-1}`.
    *
    * Numeric (not hex-string) minhashes matter at scale: min over a
    * fixed-width long aggregates in HashAggregate (string min has no
    * mutable buffer → SortAggregate with a per-partition sort), and a
    * signature row is 64 bytes instead of 256+ through every downstream
    * shuffle. The 60-bit prefix keeps the md5 cross-engine contract
    * (DuckDB: `CAST(concat('0x', substr(md5(..), 1, 15)) AS BIGINT)`).
    */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3, numHashes: Int = 8): DataFrame =
    minhashSignaturesFrom(docShingles(docs, idCol, textCol, n), numHashes)

  /** [[minhashSignatures]] over an already-built `(id, sh)` shingle
    * relation — lets composed flows ([[verifiedNearDups]]) build the
    * shingle explode ONCE and share it between the signature aggregate
    * and the exact-verify hub instead of re-scanning the corpus.
    */
  private[graft] def minhashSignaturesFrom(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(conv(substring(md5(concat(lit(s"$i|"), col("sh"))), 1, 15), 16, 10)
        .cast("long")).as(s"m$i"))
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over the signatures: candidate pair ⟺ some band of
    * `rowsPerBand` consecutive minhashes matches exactly. Bands are
    * exploded to (band#, key) rows and matched with ONE self-equi-join on
    * (band#, key) — not an OR-condition join (nested loop) and not a union
    * of per-band joins (which re-executes the signature pipeline per band
    * per side; here the two identical join inputs collapse into one reused
    * exchange).
    */
  def lshCandidates(signatures: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val keyed = bandKeyIndex(signatures, numHashes, rowsPerBand)
    keyed.as("a").hint("SHUFFLE_MERGE").join(keyed.as("b").hint("SHUFFLE_MERGE"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** The LSH band INDEX relation, `(id, band, band_key)` — the persistable
    * half of [[lshCandidates]]. Build it once over the corpus, store it
    * (bucketed by `(band, band_key)` in production), and append each
    * ingest delta's rows; [[incrementalLshCandidates]] then prices
    * near-dup detection per delta without re-touching corpus text — the
    * daily-ingest shape at 100 TB, where re-banding the whole corpus per
    * batch is the cost that kills naive designs.
    */
  def bandKeyIndex(signatures: DataFrame, numHashes: Int = 8,
                   rowsPerBand: Int = 2): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes — " +
        "a remainder would silently drop the trailing minhashes from banding")
    val numBands = numHashes / rowsPerBand
    // band key = STRUCT of the band's minhashes, not a "|"-joined string:
    // struct equality is the same predicate as pairwise column equality
    // (exact — no separator ambiguity, no hash), and the band join
    // shuffles rowsPerBand×8-byte fixed-width values instead of building
    // and moving ~40-char strings per (doc, band) row
    // field names aliased positionally (k0..k{r-1}) — array() requires
    // every band struct to have the identical type, field names included
    val bandKeys = (0 until numBands).map { b =>
      struct((0 until rowsPerBand).map(r =>
        col(s"m${b * rowsPerBand + r}").as(s"k$r")): _*)
    }
    signatures.select(col("id"), posexplode(array(bandKeys: _*)))
      .toDF("id", "band", "band_key")
  }

  /** INCREMENTAL LSH candidates: near-dup candidate pairs touching an
    * ingest delta, from one equi-join of the delta's band-key rows
    * against the full index (stored corpus index + the delta's rows
    * appended). Cost is |delta keys| × bucket occupancy — independent of
    * corpus size — and old↔old pairs never re-surface; delta↔delta pairs
    * do (the delta's rows are in `index`), normalized to `id1 < id2` once.
    * Same candidate semantics as [[lshCandidates]] restricted to pairs
    * with at least one delta member: signatures depend only on each doc's
    * own shingles, so per-batch signatures equal full-corpus signatures
    * row for row.
    */
  def incrementalLshCandidates(index: DataFrame, deltaIndex: DataFrame): DataFrame =
    deltaIndex.as("d").join(index.as("c"),
        col("d.band") === col("c.band") && col("d.band_key") === col("c.band_key") &&
          col("d.id") =!= col("c.id"))
      .select(least(col("d.id"), col("c.id")).as("id1"),
        greatest(col("d.id"), col("c.id")).as("id2"))
      .distinct()

  /** CDC maintenance of the stored band-key index: apply one ingest
    * batch of ADDS (the delta docs' band-key rows) and DELETES (doc ids
    * to forget — takedowns, recrawl replacements, GDPR erasure) in one
    * step. New index = (stored ∖ deleted ids' rows) ∪ add rows — ONE
    * anti-join + one union, cost ∝ |index rows of deleted docs| +
    * |adds|, never an index rebuild; the corpus text is never touched
    * (per-doc signatures are independent, the [[mergeSignatures]]
    * contract). Feed the result to [[incrementalLshCandidates]] with
    * the same add rows: new candidates can never involve a deleted doc
    * (its band keys are gone — the property the catalog row's oracle
    * pins), and old↔old pairs never re-surface.
    */
  def lshIndexAfterChanges(index: DataFrame, addIndex: DataFrame,
                           deletedIds: DataFrame): DataFrame =
    index.join(deletedIds.select(col("id")).distinct(), Seq("id"), "left_anti")
      .unionByName(addIndex)

  /** Merge per-partition MinHash signatures by element-wise min — the
    * MERGEABILITY that makes MinHash a sketch: signatures computed over
    * any partition of a doc's shingle set (shards, ingest batches,
    * map-side partials) combine associatively into exactly the
    * full-corpus signature, the same contract [[Sketches.hllReplayMerge]]
    * gives HLL registers. At 100 TB this is the difference between one
    * global shuffle of every shingle and per-shard signature jobs merged
    * by a tiny per-doc aggregate.
    */
  def mergeSignatures(sigParts: DataFrame, numHashes: Int = 8): DataFrame = {
    val aggs = (0 until numHashes).map(i => min(col(s"m$i")).as(s"m$i"))
    sigParts.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** SimHash fingerprint (default 16 bits for oracle-verifiability; bump
    * `bits` for production). Per word, a bit-j vote of ±1 from bit j of the
    * first 4 md5 hex chars; fingerprint bit j is set when the vote sum is
    * positive. Integer arithmetic only — deterministic everywhere.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              bits: Int = 16): DataFrame = {
    // per-word hash width follows `bits` (4 hex chars per 16 bits) — a
    // fixed-width hash narrower than the fingerprint would silently vote
    // the upper bits to constant 0; ≤ 60 keeps conv() inside a long
    require(bits % 4 == 0 && bits >= 4 && bits <= 60,
      s"bits=$bits must be a multiple of 4 in [4, 60]")
    val tok = docs.select(col(idCol).as("id"),
      explode(Text.words(col(textCol))).as("w"))
      .withColumn("v", conv(substring(md5(col("w")), 1, bits / 4), 16, 10).cast("long"))
    val votes = (0 until bits).map(j =>
      sum(when(shiftright(col("v"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$j"))
    val voted = tok.groupBy("id").agg(votes.head, votes.tail: _*)
    val fp = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    voted.select(col("id"), fp.as("simhash"))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxDist` bits — COMPLETE: the
    * fingerprint is split into `maxDist + 1` bit blocks, so by pigeonhole
    * any pair within `maxDist` differing bits matches at least one block
    * exactly (blocking with fewer parts, e.g. halves, silently misses
    * pairs whose differing bits straddle every part). Blocks are
    * posexploded to (part#, key) rows and matched with ONE self-equi-join
    * (reused exchange; no cross join, no per-part re-execution of the
    * fingerprint pipeline). Note the cost trade-off: large `maxDist`
    * relative to `bits` means tiny blocks and near-cartesian candidates —
    * keep maxDist ≪ bits.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, bits: Int = 16): DataFrame =
    hammingPairs(simhash(docs, bits = bits), "id", "simhash", bits, maxDist)

  /** Fingerprint-agnostic form of the pigeonhole pair join: `(id, fp)` in,
    * `(id1, id2, dist ≤ maxDist)` out, for ANY ≤64-bit Hamming-space
    * fingerprint — text SimHash ([[simhashPairs]]) and perceptual media
    * hashes ([[Multimodal.phashPairs]]) share this one implementation.
    * Completeness argument and cost trade-off as above: maxDist+1 blocks
    * guarantee a full-block match for every pair within maxDist; blocks
    * are one posexplode + ONE self-equi-join with a reused exchange.
    */
  def hammingPairs(fp: DataFrame, idCol: String, fpCol: String,
                   bits: Int, maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits=$bits must be in [1, 64]")
    val parts = math.min(maxDist + 1, bits)
    val base = bits / parts
    val rem = bits % parts
    val widths = Seq.tabulate(parts)(p => if (p < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val keys = offsets.zip(widths).map { case (off, w) =>
      // w = 64 would shift the mask to 0; the full-word block is the raw value
      if (w == 64) shiftright(col(fpCol), off)
      else shiftright(col(fpCol), off).bitwiseAND(lit((1L << w) - 1))
    }
    val keyed = fp.select(col(idCol).as("id"), col(fpCol).as("fp"),
        posexplode(array(keys: _*)))
      .toDF("id", "fp", "part", "key")
    keyed.as("a").hint("SHUFFLE_MERGE").join(keyed.as("b").hint("SHUFFLE_MERGE"),
        col("a.part") === col("b.part") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hammingDist(col("a.fp"), col("b.fp")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** n-gram Jaccard near-dup pairs. With a positive `minJaccard` this
    * routes through [[prefixFilteredPairs]] (exact — zero false
    * negatives by the pigeonhole bound, zero false positives by exact
    * verification), so the 100 TB scale hole of share-ANY-shingle
    * candidate generation (df² rows per hot shingle) never opens.
    * `minJaccard = 0` falls back to the unfiltered baseline twin
    * ([[ngramJaccardPairsNaive]]) — with no threshold there is nothing
    * to prune, and the OUTPUT itself is the quadratic object; that form
    * is the property-test oracle, not a catalog path.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3, minShared: Long = 2L, minJaccard: Double = 0.0): DataFrame =
    if (minJaccard > 0.0)
      prefixFilteredPairs(docs, idCol, textCol, n, minJaccard)
        .filter(col("shared") >= minShared)
    else ngramJaccardPairsNaive(docs, idCol, textCol, n, minShared, minJaccard)

  /** Unfiltered count-based shared-shingle self-join baseline (never
    * materializes an array intersection; ratio of exact ints →
    * deterministic double). TEST-ONLY at scale: every pair of docs
    * sharing a hot shingle meets in the join (df² per shingle). Kept as
    * the brute-force oracle the prefix-filtered path is property-tested
    * against (DedupSpec), and as the `minJaccard = 0` fallback where no
    * prefix bound exists.
    */
  private[graft] def ngramJaccardPairsNaive(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, minShared: Long = 2L, minJaccard: Double = 0.0): DataFrame = {
    val sh = docShingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("nsh"))
    val shared = sh.as("a").hint("SHUFFLE_MERGE").join(sh.as("b").hint("SHUFFLE_MERGE"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(sizes.as("z1"), col("id1") === col("z1.id"))
      .join(sizes.as("z2"), col("id2") === col("z2.id"))
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared").cast("double") /
          (col("z1.nsh") + col("z2.nsh") - col("shared")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Prefix-filtered exact set-similarity join (the SSJoin/PPJoin family,
    * Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 — published algorithms):
    * all pairs with shingle-Jaccard ≥ `minJaccard`, generating candidates
    * ONLY from each doc's PREFIX under a global token-rarity order.
    *
    * Why this beats [[ngramJaccardPairs]] at 100 TB: share-ANY-shingle
    * candidate generation explodes on common shingles (the df² blowup per
    * hot shingle). Prefix filtering keeps just the
    * `|x| - ceil(t·|x|) + 1` RAREST shingles per doc — if J(x,y) ≥ t, the
    * prefixes must intersect (pigeonhole on the global order), so recall
    * is exact by construction while hot shingles almost never make a
    * prefix (they sort last). Exact verification then touches only the
    * surviving candidates. Same output contract as the LSH+verify flow
    * but with ZERO false negatives and no tuning knob.
    *
    * Plan: df aggregate + per-doc rank window (keyed on the
    * high-cardinality doc id) + one prefix self-equi-join + a
    * candidate-bounded verify join — every stage hash-partitioned.
    */
  def prefixFilteredPairs(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", n: Int = 3,
                          minJaccard: Double = 0.5): DataFrame = {
    // Per-doc SORTED-ARRAY hub (see [[docShingleSets]]): one row per doc
    // carrying its df-ranked shingle array. Ranks become a narrow
    // posexplode; the verify arrays are the hub itself — no second
    // groupBy, no 50×-bigger shingle-row persist.
    val docsets = docShingleSets(docs, idCol, textCol, n)
    val ranked = explodeRanked(docsets)
    // prefix length n - ceil(t·n) + 1: t·n is an exact double for the
    // catalog's t (dyadic), ceil exact — both engines agree bit-for-bit
    // slice BEFORE exploding: only the prefix positions leave the hub, so
    // the a-side explode + exchange carries ~(1-t)·nsh rows per doc
    // instead of nsh (same predicate as filtering ranked on rnk — slice
    // keeps positions 1..prefLen and rnk IS the position)
    val pref = explodePrefix(docsets,
      (col("nsh") - ceil(lit(minJaccard) * col("nsh")) + 1).cast("int"))
    // LENGTH filter (the family's second pruning rule): J(x,y) ≥ t forces
    // t·|x| ≤ |y| and t·|y| ≤ |x| — a free residual predicate on the
    // candidate equi-join that prunes before the (expensive) verify.
    // POSITION filter (PPJoin's third rule): at a shared token with ranks
    // (p_a, p_b), every OTHER shared token of the pair's FIRST match sits
    // after both ranks (same global order on both sides), so overlap ≤
    // 1 + min(nsh_a − p_a, nsh_b − p_b); J ≥ t needs overlap ≥
    // ⌈t/(1+t)·(nsh_a+nsh_b)⌉. Filtering every matching row with this
    // bound is exact: a qualifying pair's first-match row always passes
    // (later rows may drop — distinct only needs one). One unit of slack
    // absorbs double-`ceil` rounding on the non-dyadic t/(1+t).
    val alpha = ceil(lit(minJaccard / (1 + minJaccard)) *
      (col("a.nsh") + col("b.nsh"))) - 1
    val cand = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          lit(minJaccard) * col("a.nsh") <= col("b.nsh") &&
          lit(minJaccard) * col("b.nsh") <= col("a.nsh") &&
          lit(1) + least(col("a.nsh") - col("a.rnk"), col("b.nsh") - col("b.rnk")) >= alpha)
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    // Verify via per-doc shingle arrays (see [[containmentPairs]] for the
    // measured rationale): |cand| rows carrying two arrays beat a
    // |cand| × avg(nsh) re-expansion through two shuffle joins + groupBy.
    // Shingles are distinct per doc so size(array_intersect) IS the
    // overlap, and nsh rides along — no sizes joins. The arrays are the
    // persisted hub itself.
    cand
      .join(docsets.as("z1"), col("id1") === col("z1.id"))
      .join(docsets.as("z2"), col("id2") === col("z2.id"))
      .select(col("id1"), col("id2"),
        graft.functions.VectorFunctions.sortedIntersectCount(
          col("z1.sorted"), col("z2.sorted")).as("shared"),
        col("z1.nsh").as("nsh1"), col("z2.nsh").as("nsh2"))
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared").cast("double") /
          (col("nsh1") + col("nsh2") - col("shared")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash Jaccard ESTIMATE on the LSH candidates: the fraction of
    * agreeing signature components is an unbiased estimator of the true
    * Jaccard — the cheap score you rank candidates by BEFORE paying for
    * exact shingle verification (the estimate reads 8 longs per pair; the
    * exact join re-touches every shingle). Ratio of exact ints →
    * deterministic double, so the oracle replays it bit-exactly.
    */
  def minhashEstimates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, n, numHashes)
    val cands = lshCandidates(sigs, numHashes, rowsPerBand)
    val matches = (0 until numHashes).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L)).reduce(_ + _)
    cands
      .join(sigs.as("a"), col("id1") === col("a.id"))
      .join(sigs.as("b"), col("id2") === col("b.id"))
      .select(col("id1"), col("id2"),
        (matches.cast("double") / lit(numHashes).cast("double")).as("est_jaccard"))
  }

  /** The composed production near-dup flow: MinHash-LSH candidate
    * generation, then EXACT n-gram Jaccard verification computed only on
    * the candidate pairs — the shape that scales (exact verification cost
    * is proportional to candidates, not to corpus²) while shipping exact
    * scores for everything it returns.
    */
  def verifiedNearDups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
                       minJaccard: Double = 0.5): DataFrame = {
    // ONE shingle explode shared by the signature aggregate and the
    // verify hub (persisted — the two consumers are different subtrees,
    // so exchange reuse alone would execute the explode twice)
    val sh = docShingles(docs, idCol, textCol, n).persistTracked()
    val cands = lshCandidates(minhashSignaturesFrom(sh, numHashes),
      numHashes, rowsPerBand)
    // Verify via per-doc HASHED sorted arrays (the [[containmentPairs]]
    // shape, measured there): |cand| rows carrying two long arrays +
    // an in-task merge-walk beat the |cand| × avg(nsh) expand-join +
    // groupBy + two sizes joins. xxhash64 collision bound as in
    // [[docShingleSets]]; the string-side brute-force oracle re-proves
    // the no-collision outcome every round.
    val hub = sh.select(col("id"), xxhash64(col("sh")).as("h"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("h"))).as("sorted"), count(lit(1)).as("nsh"))
      .persistTracked()
    cands
      .join(hub.as("z1"), col("id1") === col("z1.id"))
      .join(hub.as("z2"), col("id2") === col("z2.id"))
      .select(col("id1"), col("id2"),
        graft.functions.VectorFunctions.sortedIntersectCount(
          col("z1.sorted"), col("z2.sorted")).as("shared"),
        col("z1.nsh").as("nsh1"), col("z2.nsh").as("nsh2"))
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared").cast("double") /
          (col("nsh1") + col("nsh2") - col("shared")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over undirected near-dup pairs `(id1, id2)` —
    * the step that turns PAIRS into CLUSTERS so "keep one per duplicate
    * group" is well-defined even when A~B and B~C but A!~C.
    *
    * TWO-REGIME plan, chosen by the measured EDGE count — the same
    * philosophy as Spark's broadcast-vs-shuffle join selection. The pair
    * list is orders of magnitude smaller than the corpus it came from
    * (it's the near-dup survivors of LSH + verify), so even a 100 TB run
    * usually yields an edge list one task can fold:
    *
    *  - `edges ≤ localEdgeThreshold` (and integral/string ids): ONE
    *    mapPartitions task runs union-find with path compression +
    *    union-by-min — exactly the fixpoint the loop computes, in
    *    milliseconds instead of a job per propagation round. 2M edges ≈
    *    tens of MB in one task — smaller than a routine skewed reducer.
    *    String ids compare as unsigned UTF-8 bytes, which IS Spark's
    *    UTF8_BINARY `min()` order — the two regimes cannot disagree.
    *  - above the threshold: distributed min-label propagation WITH PATH
    *    HALVING. Each round is a neighbor-min (equi-join + min-aggregate,
    *    hash-partitioned on id, checkpointed) followed by a label-of-label
    *    shortcut (`lbl ← min(lbl, lbl(lbl))`) as a self-join on the
    *    checkpointed step. Halving is sound because the loop invariant —
    *    a vertex's label is the id of some vertex in its own component —
    *    composes: lbl(lbl(x)) is in lbl(x)'s component = x's component.
    *    Rounds drop from component DIAMETER to O(log diameter): a
    *    low-threshold near-dup graph at sf0.1 measured 18 plain rounds of
    *    ~0.28 s fixed job overhead over 2,432 edges (round-count-bound,
    *    and one SF up would have BLOWN the maxIter=20 cap); halving
    *    bounds chain-y components of diameter 10⁶ at ~20 rounds.
    *    NOTE the shortcut must go through the CURRENT checkpointed step,
    *    not lazily through `stepped`'s plan (self-joining an
    *    un-materialized step executes the neighbor-min twice — measured
    *    slower than no halving), and not through the PREVIOUS round's
    *    labels (stale pointers don't contract chains — measured 18 rounds
    *    again).
    *
    * Convergence is checked, not assumed — a non-converged result would
    * silently split clusters, so the cap failing is an ERROR, not a
    * truncation (labels only decrease, so `changed == 0` forces the
    * neighbor-min step alone to have changed nothing, which is exactly
    * plain min-label's fixpoint). Labels are pure min() folds —
    * deterministic under any partitioning or retry — and the union-find
    * root is the same min, so both regimes emit identical rows.
    *
    * Returns `(id, component)` for every id appearing in a pair;
    * singletons (docs in no pair) are absent — callers treat them as their
    * own component (see [[dedupByClusters]]).
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
                 localEdgeThreshold: Long =
                   graft.GraftConfig.LocalEdgeThreshold): DataFrame = {
    // persist the INPUT before the symmetrize-union: the two union
    // branches project (a,b) and (b,a) — different subplans, so exchange
    // reuse does NOT dedupe them, and an unpersisted `pairs` (e.g. the
    // whole prefix-filtered similarity pipeline) would execute twice
    val p = pairs.persistTracked()
    val edges = p.select(col("id1").as("a"), col("id2").as("b"))
      .union(p.select(col("id2").as("a"), col("id1").as("b")))
      .distinct()
      .persistTracked()
    val cmp = localIdCompare(edges.schema.fields(0).dataType)
    // the count doubles as the edges materialization the loop needs anyway
    val nEdges = edges.count()
    if (cmp.isDefined && nEdges <= localEdgeThreshold) {
      val out = localComponents(edges, cmp.get).localCheckpoint(true)
      edges.unpersist()
      p.unpersist()
      return out
    }
    // LINEAGE TRUNCATION, not just caching: each round references the
    // previous labels twice (neighbor-min join + the left join), so the
    // retained plan TREE triples per round — and Spark re-serializes the
    // whole tree per action (SparkPlanInfo walks THROUGH cached plans),
    // which goes exponential by ~round 8 even though execution is fine.
    // Eager localCheckpoint cuts the plan to a leaf each round. On a real
    // cluster swap in reliable checkpoint() (HDFS) — localCheckpoint
    // blocks die with their executor; bounded lineage is the point.
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var changed = Long.MaxValue
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val stepped = edges.join(labels, edges("b") === labels("id"))
        .groupBy(col("a").as("id")).agg(min(col("lbl")).as("nlbl"))
        .join(labels.withColumnRenamed("lbl", "old"), Seq("id"), "right")
        .select(col("id"), least(col("old"), coalesce(col("nlbl"), col("old"))).as("lbl"),
          col("old"))
        .localCheckpoint(true)
      // path halving as a self-join on the CHECKPOINTED step (a leaf —
      // both sides scan the same blocks, nothing re-executes)
      val next = stepped.as("x")
        .join(stepped.select(col("id").as("pid"), col("lbl").as("plbl")).as("y"),
          col("x.lbl") === col("y.pid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.lbl"), coalesce(col("y.plbl"), col("x.lbl"))).as("lbl"),
          col("x.old").as("old"))
        .localCheckpoint(true)
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.drop("old")
      iter += 1
    }
    require(changed == 0,
      s"Dedup.components: labels still changing after $maxIter iterations — " +
        "raise maxIter (component diameter exceeds the cap)")
    edges.unpersist()
    p.unpersist()
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** INCREMENTAL connected components — the daily-crawl form of
    * [[components]]: given yesterday's stored labels `(id, component)`
    * (canonical min-member labels, exactly what [[components]] emits)
    * and today's delta of new near-dup pairs `(id1, id2)`, produce the
    * labels a full recompute over (old pairs ∪ delta pairs) would —
    * WITHOUT touching the old pair relation or re-running label
    * propagation over the corpus.
    *
    * Why the contraction is exact: an old label is the MIN id of its
    * family, and a doc unseen by the old run is its own family. Mapping
    * each delta edge's endpoints to their family labels contracts every
    * old component to one vertex; running [[components]] on that
    * contracted delta-sized graph yields, per merged group, the min over
    * family labels = the min over all member ids — precisely the
    * canonical label the full recompute assigns. Docs whose family
    * didn't merge keep their old label (min composes; spec-pinned
    * against the full recompute on randomized graphs).
    *
    * Scale shape: the label-propagation rounds run ONLY on the
    * contracted graph (≤ |delta| edges — broadcast-regime small for any
    * realistic daily delta); the corpus-scale work is two lookups of the
    * old-label store on the delta endpoints plus ONE remap join of the
    * stored labels against the (delta-bounded, broadcastable) relabel
    * table. A 100 TB corpus with a 0.1% daily delta pays ~0.1% of the
    * full recompute, not 100%.
    *
    * Returns `(id, component)` for every id in `oldLabels` ∪ delta pairs.
    */
  def componentsIncremental(oldLabels: DataFrame, deltaPairs: DataFrame,
                            maxIter: Int = 20): DataFrame = {
    val old = oldLabels.select(col("id"), col("component")).persistTracked()
    val delta = deltaPairs.select(col("id1"), col("id2")).persistTracked()
    // family label of each delta endpoint: its stored component, or
    // itself if the old run never saw it
    val fams = delta
      .join(old.select(col("id").as("i1"), col("component").as("c1")),
        col("id1") === col("i1"), "left")
      .join(old.select(col("id").as("i2"), col("component").as("c2")),
        col("id2") === col("i2"), "left")
      .select(coalesce(col("c1"), col("id1")).as("f1"),
        coalesce(col("c2"), col("id2")).as("f2"))
    val superEdges = fams.filter(col("f1") =!= col("f2"))
      .select(col("f1").as("id1"), col("f2").as("id2")).distinct()
    // delta-sized by construction — components picks its broadcast-style
    // local regime for any realistic delta, rounds never see the corpus
    val relabel = components(superEdges, maxIter)
      .select(col("id").as("family"), col("component").as("merged"))
    val newIds = delta.select(col("id1").as("id"))
      .unionByName(delta.select(col("id2").as("id"))).distinct()
      .join(old.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    val universe = old.unionByName(newIds)
    val out = universe
      .join(relabel, universe("component") === relabel("family"), "left")
      .select(universe("id"),
        coalesce(col("merged"), universe("component")).as("component"))
    out
  }

  /** Comparator matching Spark's `min()` ordering for the id types the
    * dedup flows use — integral types naturally, strings as UNSIGNED
    * UTF-8 bytes (Spark's default UTF8_BINARY collation). Any other type
    * returns None and [[components]] stays on the distributed loop, so
    * the local regime can never invent an ordering Spark wouldn't.
    */
  private[graft] def localIdCompare(dt: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some((a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
      case IntegerType => Some((a, b) =>
        Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
      case ShortType => Some((a, b) =>
        java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short]))
      case StringType => Some { (a, b) =>
        val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(x.length, y.length)
        var r = 0
        while (r == 0 && i < n) {
          r = Integer.compare(x(i) & 0xff, y(i) & 0xff)
          i += 1
        }
        if (r != 0) r else Integer.compare(x.length, y.length)
      }
      case _ => None
    }
  }

  /** Single-task union-find over a small symmetrized edge list — the
    * below-threshold regime of [[components]]. Path compression +
    * union-by-min (the smaller root absorbs): the emitted
    * `(id, component)` rows are exactly the min-label fixpoint. One
    * shuffle of the edge list to one task; the map holds O(vertices)
    * entries.
    */
  private def localComponents(edges: DataFrame,
                              cmp: (Any, Any) => Int): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = edges.schema.fields(0).dataType
    val outSchema = StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("component", idType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    edges.repartition(1).mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x0: Any): Any = {
        if (!parent.containsKey(x0)) { parent.put(x0, x0); x0 }
        else {
          var root = x0
          while (parent.get(root) != root) root = parent.get(root)
          var c = x0
          while (c != root) { val nxt = parent.get(c); parent.put(c, root); c = nxt }
          root
        }
      }
      it.foreach { r =>
        val ra = find(r.get(0))
        val rb = find(r.get(1))
        if (ra != rb) {
          if (cmp(ra, rb) <= 0) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val keys = parent.keySet().toArray
      keys.iterator.map(k => org.apache.spark.sql.Row(k, find(k)))
    }
  }

  /** Cluster-aware dedup: one survivor (the smallest id) per duplicate
    * cluster, plus every document in no cluster. The cluster step closes
    * the pairs→groups gap: pairwise keep-min would keep B from A~B plus B
    * from B~C inconsistently; component-min keeps exactly one of {A,B,C}.
    */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val losers = components(pairs, maxIter)
      .filter(col("id") =!= col("component"))
      .select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** [[dedupByClusters]] with a SURVIVOR POLICY: keep the cluster member
    * maximizing `score` (ties → smallest id) instead of the smallest id.
    * Min-id survivorship is arbitrary; real pipelines keep the best
    * member — the longest text, the highest quality score, the newest
    * snapshot. `score` is evaluated against `docs`' columns.
    *
    * Plan: components (two-regime, see [[components]]) → attach scores
    * (one equi-join on id) → per-component `row_number` ordered by
    * (score DESC, id ASC) — the window partitions on component, and the
    * clustered relation is pair-survivor-sized, not corpus-sized →
    * anti-join the losers. Deterministic: the (score, id) order has no
    * ties by construction.
    */
  def dedupByClustersKeeping(docs: DataFrame, pairs: DataFrame, score: Column,
                             idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val scored = docs.select(col(idCol).as("id"), score.as("scr"))
    val ranked = components(pairs, maxIter)
      .join(scored, "id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(col("scr").desc, col("id").asc)))
    val losers = ranked.filter(col("rn") > 1).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** LSH banding RECALL AUDIT: for each banding configuration, what
    * fraction of the TRUE near-dup pairs (exact n-gram Jaccard ≥
    * `minJaccard`) does MinHash banding surface as candidates? The
    * measurement to run at a small SF before trusting a banding choice on
    * the 100 TB corpus — the S-curve math gives expected recall per
    * (bands, rows) but only against idealized uniform minhashes; this
    * measures the real thing on real signatures.
    *
    * One row per config: `(num_bands, rows_per_band, true_pairs, caught,
    * recall)` — recall is one IEEE divide of two exact longs (replayable).
    * The signatures and the exact-truth pair set build ONCE (persisted);
    * each config adds only its band equi-join + a semi-join against
    * truth. Configs must divide `numHashes` ([[lshCandidates]] requires
    * it).
    */
  /** Forward S-curve for MinHash banding — the [[SimilarityLsh.recallAt]]
    * twin in Jaccard space: a pair at Jaccard `j` agrees on one `r`-row
    * band w.p. `j^r` (each minhash matches w.p. j, independent under the
    * random-permutation model), so `b` bands catch it w.p.
    * `1 − (1 − j^r)^b` (Broder '97 banding analysis). This is the
    * number [[hashesFor]] inverts and [[lshRecallAudit]]'s `predicted`
    * column reports per measured config.
    */
  def minhashRecallAt(rowsPerBand: Int, numBands: Int, jaccard: Double): Double = {
    require(rowsPerBand >= 1 && numBands >= 1,
      s"rowsPerBand=$rowsPerBand numBands=$numBands out of range")
    // j = 1 (exact duplicates) is well-defined — every band agrees, recall
    // 1 — and the Column-side predicted path already admits it; the scalar
    // API should not be stricter than its DataFrame twin (r11 advice). The
    // formula handles it without a special case: log1p(-1) = -∞ → -expm1
    // of -∞ = 1.0 exactly.
    require(jaccard > 0.0 && jaccard <= 1.0, s"jaccard=$jaccard out of range")
    -math.expm1(numBands * math.log1p(-math.pow(jaccard, rowsPerBand.toDouble)))
  }

  /** SIGNATURE-WIDTH sizing: the MinHash budget that holds
    * `targetRecall` for pairs at Jaccard ≥ `minJaccard` with `r`-row
    * bands — `bands = ⌈ln(1−R)/ln(1−j^r)⌉`, `hashes = bands·r` — the
    * MinHash twin of [[SimilarityLsh.tablesFor]]: `rowsPerBand` sizes
    * PRECISION (wider bands admit fewer false candidates), this sizes
    * RECALL back up to the target. Unlike hyperplane tables there is no
    * index-copy cap — hashes cost signature width — but a 512-hash
    * ceiling still fails loudly when the ask is absurd (e.g. 0.999
    * recall at J 0.1 with 4-row bands): past it, lower `rowsPerBand`
    * or relax the threshold rather than paying a 4 KB signature per
    * doc.
    */
  def hashesFor(minJaccard: Double, targetRecall: Double,
                rowsPerBand: Int = 2): Int = {
    require(minJaccard > 0.0 && minJaccard < 1.0,
      s"minJaccard=$minJaccard out of range")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall=$targetRecall must be in (0, 1)")
    require(rowsPerBand >= 1, s"rowsPerBand=$rowsPerBand out of range")
    val pBand = math.pow(minJaccard, rowsPerBand.toDouble)
    val bands = math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt)
    val h = bands * rowsPerBand
    require(h <= 512, s"hashesFor: $h minhashes needed for recall " +
      s"$targetRecall at J>=$minJaccard with $rowsPerBand-row bands — " +
      "lower rowsPerBand or relax the threshold")
    h
  }

  /** Deterministic IEEE power chain by repeated squaring —
    * `((x·x)·(x·x))…` — the cross-engine-safe integer power (libm `pow`
    * differs in the last ulp across engines; a fixed multiplication
    * tree does not). Exponent must be a power of two.
    */
  private def powChain(x: Column, e: Int): Column = e match {
    case 1 => x
    case _ =>
      require(e % 2 == 0, s"powChain exponent $e must be a power of two")
      val h = powChain(x, e / 2)
      h * h
  }

  def lshRecallAudit(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = 3, numHashes: Int = 8,
                     rowsPerBandConfigs: Seq[Int] = Seq(1, 2, 4, 8),
                     minJaccard: Double = 0.5,
                     minShared: Long = 2L,
                     predicted: Boolean = false): DataFrame = {
    rowsPerBandConfigs.foreach(r => require(r >= 1 && numHashes % r == 0,
      s"rowsPerBand=$r must divide numHashes=$numHashes"))
    val sigs = minhashSignatures(docs, idCol, textCol, n, numHashes)
    val truth = ngramJaccardPairs(docs, idCol, textCol, n, minShared, minJaccard)
      .select("id1", "id2", "jaccard")
      .persistTracked()
    // ALL configs ride ONE keyed self-join: every config's band keys
    // explode together as (cfg, band, key) rows, so 4 configs cost one
    // exchange + one join instead of four of each (measured 10.2 s → the
    // single-join plan; the exploded relation is only Σ 8/r rows per doc).
    // SHUFFLE_MERGE: identical sides collapse into one reused exchange.
    val keyStructs = rowsPerBandConfigs.flatMap { r =>
      (0 until numHashes / r).map { b =>
        struct(lit(r).as("cfg"), lit(b).as("band"),
          concat_ws("|", (0 until r).map(j => col(s"m${b * r + j}")): _*).as("key"))
      }
    }
    val keyed = sigs.select(col("id"), explode(array(keyStructs: _*)).as("k"))
      .select(col("id"), col("k.cfg").as("cfg"), col("k.band").as("band"),
        col("k.key").as("key"))
    val cand0 = keyed.as("a").hint("SHUFFLE_MERGE")
      .join(keyed.as("b").hint("SHUFFLE_MERGE"),
        col("a.cfg") === col("b.cfg") && col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.cfg").as("cfg"), col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // predicted mode also reports PRECISION (caught / candidate volume —
    // the number that prices the verify stage: every candidate pays an
    // exact-Jaccard check), so the candidate relation feeds two
    // aggregates and gets pinned
    val cand = if (predicted) cand0.persistTracked() else cand0
    // distinct join-key aliases: both aggregates descend from the same
    // `cand` relation, and two joins keyed on the one ambiguous `cfg`
    // trip Spark's self-join lineage check
    val caughtPerCfg = truth.join(cand, Seq("id1", "id2"))
      .groupBy(col("cfg").as("cfg_c")).agg(count(lit(1)).as("caught"))
    val candPerCfg = cand.groupBy(col("cfg").as("cfg_n"))
      .agg(count(lit(1)).as("n_candidates"))
    // a config that catches NOTHING emits no count row — rebuild the full
    // config list from literals and left-join the counts
    val confDf = docs.sparkSession
      .createDataFrame(rowsPerBandConfigs.map(r => (numHashes / r, r)))
      .toDF("num_bands", "rows_per_band")
    // `predicted`: carry each config's S-curve expectation alongside the
    // measurement — per TRUE pair, P(caught) = 1 − (1 − j^r)^(H/r) via
    // deterministic squaring chains (powChain — no libm pow), summed in
    // FIXED POINT (floor(P·10⁹) exact longs; a float mean would be
    // partition-order-dependent) and divided once at the end. The
    // predicted column is what hashesFor promises; the measured column
    // is what the corpus delivers — drift between them is the model-fit
    // alarm (clustered-permutation violations, tiny shingle sets).
    if (predicted) rowsPerBandConfigs.foreach { r =>
      val b = numHashes / r
      require((b & (b - 1)) == 0,
        s"predicted=true needs power-of-two band counts, got $b for r=$r")
      // r is a powChain exponent too (jaccard^r below) — check it HERE so
      // the failure names the user-facing constraint instead of dying in
      // powChain's internal-invariant require (r11 advice: numHashes=12
      // with r=3 passed the band check and failed later)
      require((r & (r - 1)) == 0,
        s"predicted=true needs power-of-two rows_per_band, got r=$r")
    }
    val statAggs = count(lit(1)).as("true_pairs") +:
      (if (!predicted) Seq.empty else rowsPerBandConfigs.map { r =>
        val p = lit(1.0) -
          powChain(lit(1.0) - powChain(col("jaccard"), r), numHashes / r)
        sum(floor(p * lit(1.0e9)).cast("long")).as(s"fp$r")
      })
    val truthStats = truth.agg(statAggs.head, statAggs.tail: _*)
    val baseCols = Seq(col("num_bands"), col("rows_per_band"), col("true_pairs"),
      coalesce(col("caught"), lit(0L)).as("caught"),
      when(col("true_pairs") > 0,
        coalesce(col("caught"), lit(0L)).cast("double") /
          col("true_pairs").cast("double"))
        .as("recall"))
    val predictedCol =
      if (!predicted) Seq.empty
      else {
        val fpOf = rowsPerBandConfigs.tail.foldLeft(
          when(col("rows_per_band") === rowsPerBandConfigs.head,
            col(s"fp${rowsPerBandConfigs.head}"))) { (acc, r) =>
          acc.when(col("rows_per_band") === r, col(s"fp$r"))
        }
        Seq(when(col("true_pairs") > 0,
          fpOf.cast("double") / col("true_pairs").cast("double") / lit(1.0e9))
          .as("recall_predicted"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          when(coalesce(col("n_candidates"), lit(0L)) > 0,
            coalesce(col("caught"), lit(0L)).cast("double") /
              col("n_candidates").cast("double"))
            .as("precision"))
      }
    val joined = confDf
      .join(caughtPerCfg, confDf("rows_per_band") === caughtPerCfg("cfg_c"), "left")
    val withCand =
      if (!predicted) joined
      else joined.join(candPerCfg,
        confDf("rows_per_band") === candPerCfg("cfg_n"), "left")
    withCand
      .crossJoin(broadcast(truthStats))
      .select(baseCols ++ predictedCol: _*)
  }


  /** Embedding-cosine near-dup pairs above a threshold. Small corpora pair
    * directly; at scale route through [[SimilarityLsh.candidatePairs]]
    * (`useLsh = true`) — candidate generation becomes bucketed equi-joins
    * instead of the n² self-join. LSH parameters pass through so the
    * catalog can pin an oracle-replayable configuration.
    */
  def embeddingNearDup(vectors: DataFrame, threshold: Double,
                       useLsh: Boolean = false, numPlanes: Int = 8,
                       numTables: Int = 8, dim: Int = 64): DataFrame = {
    val pairs =
      if (useLsh) SimilarityLsh.candidatePairs(vectors, numPlanes, numTables, dim)
      else vectors.as("a").join(vectors.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
          Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
    pairs.filter(col("cos") >= threshold)
  }

  /** [[embeddingNearDup]] with the regime PICKED from the live corpus
    * count instead of trusting the caller to know when n² stops being
    * runnable: at or below `exactLimit` vectors the exact all-pairs join
    * runs (complete recall — the oracle regime); above it, self-sizing
    * LSH ([[SimilarityLsh.candidatePairsAuto]] — bucketed equi-joins,
    * planes derived via `planesFor`, skew-guard drops logged). The same
    * two-regime contract as [[components]]/SCC: one measured threshold
    * (`SPARK_GRAFT_EXACT_PAIR_VECTORS`, [[graft.GraftConfig]]), both
    * regimes spec-pinned, the LSH regime's pairs a subset of the exact
    * regime's with identical cosines on the overlap. The one count job
    * is column-pruned and cheap next to the pairing it gates (the
    * `candidatePairsAuto` precedent — that path re-counts to size its
    * planes; two row-count scans are still noise vs one 10⁵² pairing).
    */
  def embeddingNearDupAuto(vectors: DataFrame, threshold: Double,
                           numTables: Int = 8, dim: Int = 64,
                           exactLimit: Long = graft.GraftConfig.ExactPairVectors,
                           knownCount: Long = -1L)
      : DataFrame = {
    // exactCorpusCount, NOT corpusCount (r12 advice 1): this n picks the
    // RESULT SET (exact all-pairs vs LSH candidates), so a stale
    // CBO-stats estimate must never decide it — knownCount or an exact
    // count only. The same n then feeds the LSH plane sizing below,
    // where exact is trivially fine.
    val n = SimilarityLsh.exactCorpusCount(vectors, knownCount)
    val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")
    if (n <= exactLimit) {
      log.info(s"embeddingNearDupAuto: corpus=$n <= exactLimit=$exactLimit — exact all-pairs regime")
      embeddingNearDup(vectors, threshold)
    } else {
      log.info(s"embeddingNearDupAuto: corpus=$n > exactLimit=$exactLimit — self-sizing LSH regime")
      // PairingMaxBucket, not the 10000 memory guard: this path PAIRS its
      // buckets (cost = occupancy²), so it sizes for ~125 expected
      // occupants — at 20k vectors that is the blessed 8-plane dedup
      // shape; the 625-occupancy sizing measured 24.1 s vs ~2 s at the
      // synthesized 10× point (SCALE.md round 9). The regime gate's own
      // count is passed through — one row-count scan, not two.
      SimilarityLsh.candidatePairsAutoCounted(vectors, n, numTables, dim,
          maxBucketSize = SimilarityLsh.PairingMaxBucket)
        .filter(col("cos") >= threshold)
    }
  }

  /** [[embeddingNearDupAuto]] with RECALL as the stated contract — the
    * dedup-family twin of [[SimilarityLsh.topKAutoRecall]]: tables from
    * `tablesFor(planes, targetRecall, threshold)` (a pair AT the
    * threshold is caught w.p. ≥ targetRecall; higher-cos pairs do
    * better — the S-curve is monotone), and the 64-table SATURATION is
    * a mechanism here too. [[SimilarityLsh.saturationGate]] — the same
    * decision the graph entry point runs, so the two can never disagree
    * on the family — picks the pair builder: the capped LSH pairs, the
    * IVF within-cell pair join ([[SimilarityIvf.nearDupPairs]] /
    * [[SimilarityIvf.nearDupPairsMultiProbe]], √n cells) or the
    * hierarchical pairs ([[SimilarityHier.nearDupPairsHier]]);
    * FailLoud throws naming the achievable recall. The exact regime
    * (n ≤ exactLimit) holds the contract trivially at recall 1.
    */
  def embeddingNearDupAutoRecall(vectors: DataFrame, threshold: Double,
                                 targetRecall: Double = 0.9, dim: Int = 64,
                                 exactLimit: Long = graft.GraftConfig.ExactPairVectors,
                                 onSaturation: SimilarityLsh.SaturationPolicy =
                                   SimilarityLsh.Escalate(),
                                 knownCount: Long = -1L): DataFrame = {
    // exact, not stats-estimated: the regime gate changes the result set
    // (see embeddingNearDupAuto — r12 advice 1)
    val n = SimilarityLsh.exactCorpusCount(vectors, knownCount)
    if (n <= exactLimit) {
      org.slf4j.LoggerFactory.getLogger("graft.Dedup")
        .info(s"embeddingNearDupAutoRecall: corpus=$n <= exactLimit=" +
          s"$exactLimit — exact all-pairs regime (recall 1)")
      return embeddingNearDup(vectors, threshold)
    }
    val c = SimilarityLsh.saturationGate(n, targetRecall, threshold, onSaturation)
    c.family match {
      case "hier" => SimilarityHier.nearDupPairsHier(vectors, threshold,
        dim = dim, capMult = SimilarityHier.GateCapMult,
        nprobe = SimilarityHier.GateNprobe, knownCount = n)
      case "ivf" if c.nprobe <= 1 =>
        SimilarityIvf.nearDupPairs(vectors, threshold, c.cells)
      case "ivf" =>
        SimilarityIvf.nearDupPairsMultiProbe(vectors, threshold, c.cells, c.nprobe)
      case _ => SimilarityLsh.candidatePairsAutoCounted(vectors, n, c.tables,
          dim, maxBucketSize = SimilarityLsh.PairingMaxBucket)
        .filter(col("cos") >= threshold)
    }
  }

  /** DELIVERED pair recall AT THE CONTRACT'S THRESHOLD — the audit the
    * escalation gate's threshold blind spot calls for (r12 advice 2):
    * [[SimilarityIvf.expectedRecall]] is threshold-independent (a top-3
    * kNN fit), while a contract at a low or negative cosine demands
    * pairs a similarity quantizer rarely co-cells — so the gate's
    * expectation can overstate what the escalated path delivers for
    * exactly those contracts. This measures it: per md5-picked anchor,
    * the fraction of its TRUE ≥-threshold partners (broadcast anchors ×
    * corpus — nAnchors·n, never n²) present in `pairs` (any
    * `(id1 < id2, …)` candidate relation — the escalated IVF pairs, LSH
    * pairs, or anything else claiming the contract). Run it before
    * trusting an escalation on a threshold well below the fit regime;
    * `q_ann_escalate_threshold_audit` is the deployed example.
    */
  def pairsRecallAuditAtThreshold(vectors: DataFrame, pairs: DataFrame,
                                  threshold: Double,
                                  nAnchors: Int = 50): DataFrame = {
    // pinned: feeds the truth broadcast AND both pair probes
    val anchors = SimilarityLsh.auditAnchors(vectors, nAnchors)
    val av = broadcast(anchors.join(vectors, Seq("vec_id"))
      .select(col("vec_id").as("a_id"), col("embedding").as("ae")))
    val truth = vectors.select(col("vec_id").as("o_id"), col("embedding").as("oe"))
      .join(av, col("a_id") =!= col("o_id"))
      .select(col("a_id"), col("o_id"),
        Similarity.cosine(col("ae"), col("oe")).as("cos"))
      .filter(col("cos") >= threshold)
    // candidate pairs touching an anchor, normalized to (anchor, other);
    // (id1, id2) is distinct in every pairing family here, so the two
    // directions cannot double-count a key
    val p = pairs.select(col("id1"), col("id2"))
    val touched = p.join(anchors.select(col("vec_id").as("id1")), Seq("id1"))
        .select(col("id1").as("pa"), col("id2").as("po"))
      .unionByName(p.join(anchors.select(col("vec_id").as("id2")), Seq("id2"))
        .select(col("id2").as("pa"), col("id1").as("po")))
    truth
      .join(touched, truth("a_id") === touched("pa") &&
        truth("o_id") === touched("po"), "left")
      .groupBy(truth("a_id").as("a_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("pa").isNotNull, 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall",
        col("n_caught").cast("double") / col("n_truth").cast("double"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023, arXiv
    * 2303.09540): k-means the embedding space into cells, then compare
    * cosines ONLY within a cell — semantically-duplicate pairs land in
    * the same cell with overwhelming probability, and the quadratic
    * pairing is bounded by cell size (pick k ≈ n/1000 at 100 TB so each
    * cell's self-join is a few-thousand-row task, never corpus²).
    *
    * Determinism contract, same as [[KMeansCluster]]: everything runs on
    * the int8-quantized vectors, so the dot product and squared norms
    * are exact longs and the emitted `cos_sq` = dot²/(|a|²·|b|²) is one
    * double division of exact integers (dot ≤ 64·127² keeps every
    * intermediate < 2⁵³) — the DuckDB oracle replays train, assign, and
    * score bit-for-bit. Threshold compares against `minCosine²` with the
    * positive-dot guard (cos² folds the sign away).
    */
  def semanticNearDups(vectors: DataFrame, k: Int = 8, iters: Int = 2,
                       dim: Int = 64, minCosine: Double = 0.8,
                       id: String = "vec_id",
                       emb: String = "embedding"): DataFrame = {
    // codegen'd integer dot (graft_doti), not an interpreted HOF fold —
    // the within-cell pairing evaluates it per candidate pair
    val asg = KMeansCluster.assignCells(vectors, k, iters, dim, id, emb)
      .withColumn("n2", graft.functions.VectorFunctions.dotL(col("q"), col("q")))
      .persistTracked()
    val dot = graft.functions.VectorFunctions.dotL(col("a.q"), col("b.q"))
    asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id1"), col(s"b.$id").as("id2"),
        col("a.cell").as("cell"), dot.as("dot"),
        col("a.n2").as("n2a"), col("b.n2").as("n2b"))
      .filter(col("dot") > 0)
      .select(col("id1"), col("id2"), col("cell"), col("dot"),
        (col("dot").cast("double") * col("dot").cast("double") /
          (col("n2a").cast("double") * col("n2b").cast("double"))).as("cos_sq"))
      .filter(col("cos_sq") >= lit(minCosine) * lit(minCosine))
  }

  /** [[semanticNearDups]] with `k` DERIVED from the live corpus count —
    * `k = max(1, n / targetCellSize)` — so the expected cell stays
    * `targetCellSize` and within-cell pair volume stays `n·cellSize/2`
    * (LINEAR in n) as the corpus grows. This is the SemDeDup sizing rule
    * the fixed-k entry can't honor (k pinned → cells grow with n → n²/k
    * pairs; measured 5× for 10× data in SCALE.md's sfx1 experiment), and
    * the same self-sizing philosophy as
    * [[graft.pipeline.SimilarityLsh.candidatePairsAuto]] — one count job
    * prices the parameters. Note the broadcast-argmin assignment carries
    * k×d literals; past k ≈ 10³ swap the assignment for an IVF-style
    * join against a centroid RELATION (documented revisit, same cells).
    */
  def semanticNearDupsAuto(vectors: DataFrame, targetCellSize: Long = 64,
                           iters: Int = 2, dim: Int = 64,
                           minCosine: Double = 0.8, id: String = "vec_id",
                           emb: String = "embedding",
                           knownCount: Long = -1L): DataFrame = {
    require(targetCellSize >= 1, s"targetCellSize=$targetCellSize must be >= 1")
    val n = SimilarityLsh.corpusCount(vectors, knownCount)
    val k = math.max(1L, n / targetCellSize).toInt
    org.slf4j.LoggerFactory.getLogger("graft.Dedup")
      .info(s"semanticNearDupsAuto: corpus=$n targetCellSize=$targetCellSize k=$k")
    semanticNearDups(vectors, k, iters, dim, minCosine, id, emb)
  }

  /** Shingle CONTAINMENT pairs: C(x→y) = |x∩y| / |x| — the asymmetric
    * near-dup measure Jaccard misses: a page whose content is wholly
    * embedded in a longer page (boilerplate wrap, quote-and-extend) has
    * high containment but low Jaccard, and web-scale dedup wants exactly
    * those "subset document" pairs. Returns both directions (`c12`, `c21`)
    * for pairs where either exceeds the threshold.
    *
    * Candidate generation is PREFIX-PROBE-FULL, the asymmetric member of
    * the prefix-filter family ([[prefixFilteredPairs]] has the symmetric
    * one): a qualifying pair has `shared ≥ c·min(|x|,|y|)`, so the
    * SMALLER side's prefix of its `|m| − ⌈c·|m|⌉ + 1` rarest shingles
    * must contain a shared shingle (pigeonhole on the global df order) —
    * which by definition sits in the other side's FULL set. Joining
    * prefixes against full sets therefore has exact recall; exact
    * verification on the candidates restores precision. Because the
    * pigeonhole constrains only the smaller side, the probe also
    * requires `nsh_prefix ≤ nsh_full` — the larger-side direction of
    * each pair is redundant, and dropping it halves the join output
    * (equal sizes fire both directions; `distinct` absorbs them). No
    * symmetric prefix-prefix join exists for max-containment: a tiny
    * doc fully contained in a huge one constrains only the tiny side's
    * prefix.
    *
    * Why this survives 100 TB where the naive shared-shingle self-join
    * dies: a stop-shingle with document frequency f costs f² in the
    * naive join, but almost never makes any doc's PREFIX (highest df →
    * sorts last), so here it costs ~0·f. Cost is Σ_sh df_prefix(sh) ·
    * df_full(sh), with df_prefix concentrated on rare shingles — the
    * same skew kill as `Similarity.bucketStats`'s `maxBucketSize` guard,
    * but with zero recall loss. The prefix bound carries one extra
    * shingle of slack (`+ 2` not `+ 1`) so a one-ULP double-`ceil`
    * disagreement on non-dyadic thresholds (e.g. 0.6) can only ADD a
    * candidate, never drop a true pair.
    */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 3,
                       minContainment: Double = 0.8): DataFrame = {
    // per-doc sorted-array hub shared with [[prefixFilteredPairs]] — one
    // persisted row per doc feeds the prefix, the FULL probe side, and
    // both verify arrays
    val docsets = docShingleSets(docs, idCol, textCol, n)
    val ranked = explodeRanked(docsets)
    // slice BEFORE exploding (see [[prefixFilteredPairs]])
    val pref = explodePrefix(docsets,
      (col("nsh") - ceil(lit(minContainment) * col("nsh")) + 2).cast("int"))
    // POSITION filter (the PPJoin rule, asymmetric form): at a shared
    // shingle with full-order ranks (p_a, p_b), a pair's FIRST shared
    // shingle has all other shared shingles after both ranks, so
    // shared ≤ 1 + min(nsh_a − p_a, nsh_b − p_b); qualifying needs
    // shared ≥ ⌈c·min(nsh_a, nsh_b)⌉ = ⌈c·nsh_a⌉ under the
    // smaller-side probe constraint. The first-match row of a
    // qualifying pair always passes, so filtering every row is exact;
    // one unit of slack absorbs double-`ceil` rounding on non-dyadic c.
    val needed = ceil(lit(minContainment) * col("a.nsh")) - 1
    val cand = pref.as("a").join(ranked.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id") &&
          col("a.nsh") <= col("b.nsh") &&
          lit(1) + least(col("a.nsh") - col("a.rnk"), col("b.nsh") - col("b.rnk")) >= needed)
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .distinct()
    // Verify via per-doc shingle ARRAYS, not a re-expansion to shingle
    // rows: the expand-join intermediate is |cand| × avg(nsh) rows (two
    // shuffle joins + a groupBy over ~20M rows at sf0.1 — measured 4.3 s
    // of a 7 s plan), while the array verify moves |cand| rows carrying
    // two arrays and intersects in-task (measured 1.3 s). Shingles are
    // distinct per doc and `size(array_intersect)` is order-invariant —
    // so the count is exactly `shared` and nsh rides along, killing the
    // two sizes joins too. The arrays are the persisted hub itself.
    cand
      .join(docsets.as("s1"), col("id1") === col("s1.id"))
      .join(docsets.as("s2"), col("id2") === col("s2.id"))
      .select(col("id1"), col("id2"),
        graft.functions.VectorFunctions.sortedIntersectCount(
          col("s1.sorted"), col("s2.sorted")).as("shared"),
        col("s1.nsh").as("nsh1"), col("s2.nsh").as("nsh2"))
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared").cast("double") / col("nsh1").cast("double")).as("c12"),
        (col("shared").cast("double") / col("nsh2").cast("double")).as("c21"))
      .filter(greatest(col("c12"), col("c21")) >= minContainment)
  }

  /** Unfiltered all-pairs containment baseline — the property-test oracle
    * for [[containmentPairs]]; same df² hot-shingle hole as
    * [[ngramJaccardPairsNaive]], so test-only.
    */
  private[graft] def containmentPairsNaive(docs: DataFrame, idCol: String = "doc_id",
                                           textCol: String = "text", n: Int = 3,
                                           minContainment: Double = 0.8): DataFrame = {
    val sh = docShingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("nsh"))
    val shared = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.as("s1"), col("id1") === col("s1.id"))
      .join(sizes.as("s2"), col("id2") === col("s2.id"))
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared").cast("double") / col("s1.nsh").cast("double")).as("c12"),
        (col("shared").cast("double") / col("s2.nsh").cast("double")).as("c21"))
      .filter(greatest(col("c12"), col("c21")) >= minContainment)
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo SNM): sort documents by
    * a domain key under which near-duplicates collide (here the text
    * prefix), then pair each row with only its `windowSize-1` successors in
    * sort order, verifying candidates with edit distance on a bounded
    * prefix. The classic complement to LSH blocking: no hash tuning, and
    * recall degrades gracefully with sort-key quality instead of banding
    * probability.
    *
    * Distributed shape: ONE window pass (row_number + the w-1 leads share
    * the same window frame → single sort) partitioned by a sort-key prefix
    * block, then a shuffle-free explode. No self-join at all — the
    * neighbor texts ride along as lead() columns. Pairs straddling block
    * boundaries are missed: the standard SNM blocking trade-off (windows
    * within a block), tunable via `blockLen` — shorter blocks = more
    * parallelism, more boundary misses. A block's rows must sort in one
    * task, the same bound any blocked window has; at 100 TB size `blockLen`
    * so blocks stay task-sized, and salt only if the key distribution
    * demands it.
    */
  def sortedNeighborhood(docs: DataFrame, windowSize: Int = 5,
                         blockLen: Int = 2, keyLen: Int = 24,
                         verifyLen: Int = 48, maxDist: Int = 24,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(windowSize >= 2, "windowSize must pair each row with ≥1 neighbor")
    val keyed = docs.select(col(idCol), substring(col(textCol), 1, keyLen).as("sk"),
      substring(col(textCol), 1, verifyLen).as("pfx"),
      substring(col(textCol), 1, blockLen).as("block"))
    val w = Window.partitionBy(col("block")).orderBy(col("sk"), col(idCol))
    val withLeads = (1 until windowSize).foldLeft(keyed) { (d, i) =>
      d.withColumn(s"__n$i",
        struct(lead(col(idCol), i).over(w).as("id2"),
          lead(col("pfx"), i).over(w).as("p2")))
    }
    withLeads
      .select(col(idCol).as("id1"), col("pfx").as("p1"),
        explode(array((1 until windowSize).map(i => col(s"__n$i")): _*)).as("n"))
      .filter(col("n.id2").isNotNull)
      .select(col("id1"), col("n.id2").as("id2"),
        levenshtein(col("p1"), col("n.p2")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
