package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{EventQueries, Query, Staging}
import graft.queries.Tables._

/** LLM-data-pipeline extension queries (dedup / similarity / text analysis /
  * multimodal) with DuckDB oracles.
  *
  * The non-trivial oracles (MinHash, SimHash, rolling hash) are *generated*
  * from the same constants as the Spark implementation, so both engines run
  * the identical integer/md5 arithmetic — an exact cross-engine contract,
  * not a fuzzy similarity check.
  */
object ExtQueries {

  // DuckDB fragment: normalized text (matches TextAnalysis.normalize);
  // private[graft] so the streaming gates in graft.queries share the one
  // definition instead of drifting on a copy
  private[graft] val DNorm = """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""

  // ---------------- dedup ----------------

  def q20DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(fanOut(documents(spark, dir)))

  private val q20Oracle =
    s"""SELECT md5($DNorm) AS fingerprint, min(doc_id) AS keeper_id, count(*)::BIGINT AS copies
       |FROM documents GROUP BY 1""".stripMargin

  /** Exact dedup applied (keeper rows survive) — covers [[Dedup.exactDedup]],
    * the operator users actually run after inspecting [[Dedup.exactGroups]].
    */
  def q26DedupKeep(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(fanOut(documents(spark, dir)))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  private val q26Oracle =
    s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($DNorm))
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d JOIN k USING (doc_id)""".stripMargin

  /** q155: cross-source contamination matrix — see
    * [[Dedup.crossSourceOverlap]]. Distinct shared PREFIX-8 fingerprints
    * per unordered source pair (the corpus has zero whole-text dups at
    * sf0.01, so the strict matrix would gate on an empty result; the
    * shared-prefix form is non-degenerate at every sf — 24 pairs at
    * sf0.01, 248 at sf0.1). The oracle replays the prefix fingerprint,
    * the distinct and the self-join.
    */
  def q155CrossSource(spark: SparkSession, dir: String): DataFrame =
    Dedup.crossSourceOverlap(fanOut(documents(spark, dir)), prefixTokens = Some(8))

  private val q155Oracle =
    s"""WITH fs AS (SELECT DISTINCT
       |       md5(array_to_string(string_split($DNorm, ' ')[1:8], ' ')) AS f,
       |       source
       |     FROM documents)
       |SELECT a.source AS source_a, b.source AS source_b,
       |       count(*)::BIGINT AS shared_fps
       |FROM fs a JOIN fs b ON a.f = b.f AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** The MinHash SKETCH of the documents fixture — (doc_id, hs) shingle
    * sets, (doc_id, sig) 16-hash signatures, (doc_id, band, bucket) 4×4
    * band rows, and the VERIFIED (doc_a, doc_b, jaccard) pair set at
    * threshold 0.5, all at the library defaults — staged ONCE per JVM per
    * sf dir: the [[stagedExact]] discipline applied to the dedup family.
    * Six consumers (q21/q27/q28/q29/q102/q224/q386, three bench trials
    * each) previously EACH re-ran the identical
    * normalize→shingle→md5→affine-min pipeline over the same corpus inside
    * their timed paths — together ~24 s of the sf0.1 idle map was the same
    * sketch of the same documents. No gate is weakened: the relations are
    * computed by the very same [[Dedup.shingleHashes]]/
    * [[Dedup.minhashSigFrame]]/[[Dedup.bandRowsOfSig]]/
    * [[Dedup.nearDupsFromRelations]] plans (DedupSpec asserts the staged
    * parquet is row-identical to a fresh derivation, and every consumer's
    * DuckDB oracle still recomputes the whole chain value-for-value) — the
    * family's timed paths now split cleanly by tier: q21 gates the
    * persisted-pair SERVE read, q27 the CC fixpoint over served pairs,
    * q102's dedup stage the filtered-subset restriction
    * ([[Dedup.dedupCorpusFromPairs]]), while q28 still derives pairs
    * inline from the sketch (candidate bucketing + Jaccard verify stay
    * benched), q224 re-buckets the signatures per sweep config, and q386
    * runs its quality argmax. This is exactly the corpus-version artifact
    * ladder a production pipeline persists via [[Dedup.writeIndex]] and
    * probes for every downstream pass — the r14 PQ/IVF train-once/
    * serve-many split, applied to dedup's pair tier.
    */
  /** Staged (doc_id, hs) shingle-hash sets of the full documents fixture.
    * `private[ext]` so DedupSpec can assert staged ≡ fresh. */
  private[ext] def stagedDocShingles(spark: SparkSession, dir: String): DataFrame =
    Staging.frame("dedup-shingles", spark, dir, "documents") {
      Dedup.shingleHashes(fanOut(documents(spark, dir)), "doc_id", "text", 5)
    }

  /** Staged (doc_id, sig) MinHash signatures (hashParams(16)), built from
    * the staged shingles. */
  private[ext] def stagedDocSig(spark: SparkSession, dir: String): DataFrame =
    Staging.frame("dedup-sig", spark, dir, "documents") {
      Dedup.minhashSigFrame(stagedDocShingles(spark, dir), Dedup.hashParams(16))
    }

  /** Staged (doc_id, band, bucket) LSH band rows (4 bands × 4 rows). */
  private[ext] def stagedDocBands(spark: SparkSession, dir: String): DataFrame =
    Staging.frame("dedup-bands", spark, dir, "documents") {
      Dedup.bandRowsOfSig(stagedDocSig(spark, dir), 4, 4)
    }

  /** Staged VERIFIED (doc_a, doc_b, jaccard) pairs at threshold 0.5 — the
    * [[Dedup.nearDupsFromRelations]] output over the staged bands and
    * shingles, so the persisted tiers are self-consistent by construction.
    * The deepest serve tier: q21 reads it directly, q27 clusters it,
    * q102's dedup stage restricts it to its filtered keepers
    * ([[Dedup.dedupCorpusFromPairs]]); q28 still derives pairs inline from
    * the sketch, keeping the candidate+verify stage benched. */
  private[ext] def stagedDocPairs(spark: SparkSession, dir: String): DataFrame =
    Staging.frame("dedup-pairs", spark, dir, "documents") {
      Dedup.nearDupsFromRelations(stagedDocBands(spark, dir),
        stagedDocShingles(spark, dir), threshold = 0.5)
    }

  def q21DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    stagedDocPairs(spark, dir)

  /** MinHash oracle, generated from the same [[Dedup.hashParams]]. Like the
    * Spark plan, shingles live as 60-bit md5-prefix hashes and the verify
    * Jaccard runs on the DISTINCT hash sets — the identical hash space on
    * both engines keeps the pair set integer-exact.
    */
  private def q21Oracle: String =
    s"""WITH $minhashPairsCte
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin

  /** Shared CTE chain: normalize → hashed shingles → signatures → band
    * buckets → candidates → verified Jaccard pairs. Used by the q21 pair
    * oracle and the q27 cluster oracle.
    */
  private def minhashPairsCte: String = minhashPairsCte("SELECT doc_id, text FROM documents")

  /** As [[minhashPairsCte]] but shingling an arbitrary (doc_id, text)
    * relation — lets composed oracles (q28) run the chain over a subset.
    */
  private def minhashPairsCte(docSource: String): String =
    minhashPairsCte(docSource, bands = 4, rowsPerBand = 4)

  /** As above with an explicit band grouping — the q224 sweep replays each
    * configuration of the SAME 16-hash signature.
    */
  private def minhashPairsCte(docSource: String, bands: Int, rowsPerBand: Int): String = {
    val params = Dedup.hashParams(bands * rowsPerBand)
    val p = Dedup.Mersenne31
    val mh = params.zipWithIndex.map { case (hp, j) =>
      s"list_min(list_transform(hs, h -> (${hp.a} * (h % $p) + ${hp.b}) % $p)) AS mh$j"
    }.mkString(",\n         ")
    val bandSelects = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($slice) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""n AS (SELECT doc_id, $DNorm AS t FROM ($docSource) dsrc),
       |sh AS (SELECT doc_id,
       |         list_distinct(list_transform(
       |           list_distinct([substr(t, i, 5) FOR i IN range(1, len(t)-3)]),
       |           s -> ('0x' || substr(md5(s),1,15))::BIGINT)) AS hs
       |       FROM n WHERE len(t) >= 5),
       |sig AS (SELECT doc_id, hs,
       |         $mh
       |        FROM sh),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b USING (band, bucket)
       |  WHERE a.doc_id < b.doc_id
       |),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         round(len(list_intersect(s1.hs, s2.hs))::DOUBLE
       |               / len(list_distinct(list_concat(s1.hs, s2.hs))), 4) AS jaccard
       |  FROM cand c
       |  JOIN sh s1 ON s1.doc_id = c.doc_a
       |  JOIN sh s2 ON s2.doc_id = c.doc_b
       |)""".stripMargin
  }

  /** The composed ladder: exact dedup → MinHash pairs over keepers →
    * clusters → one survivor per cluster.
    */
  def q28DedupPipeline(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpus(fanOut(documents(spark, dir)),
        staged = Some((stagedDocShingles(spark, dir), stagedDocBands(spark, dir))))
      .select(col("doc_id"), col("lang"), col("source"))

  private def q28Oracle: String =
    s"""WITH RECURSIVE ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($DNorm)),
       |${minhashPairsCte("SELECT d.doc_id, d.text FROM documents d JOIN ek USING (doc_id)")},
       |pr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM ek
       |  UNION
       |  SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
       |),
       |keep AS (SELECT id FROM reach GROUP BY id HAVING min(lab) = id)
       |SELECT d.doc_id, d.lang, d.source
       |FROM documents d JOIN keep ON keep.id = d.doc_id""".stripMargin

  /** q102: the FLAGSHIP end-to-end curation pipeline — what a user actually
    * runs to turn a raw corpus into trainer-ready input, as ONE composition
    * of the library's stages: Gopher hard-quality filter → full dedup
    * ladder (exact + MinHash clusters, [[Dedup.dedupCorpus]]) → growth-
    * stable train/val/test split → token-budget sequence packing of the
    * train split. The oracle replays every stage from the same generated
    * constants (q85's rule thresholds, q28's MinHash + connected-components
    * chain, q80's hash thresholds, q58's definitional running sum), so a
    * drift ANYWHERE in the composition — a filter flipping a doc, a dedup
    * keeping a duplicate, a split moving, a pack boundary off by one
    * token — breaks the hash match.
    */
  def q102CurationPipeline(spark: SparkSession, dir: String): DataFrame =
    q102Packed(spark, dir)

  // q102's stages as named builders so the same composition serves both the
  // benched query and the stage-timing breakdown — one definition, no drift.
  private def q102Quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    val kept = TextAnalysis.gopherRules(docs)
      .filter(col("keep") === 1).select("doc_id")
    docs.join(kept, "doc_id")
  }

  // The dedup boundary is materialized ONCE (materialize = true: dedupCore
  // localCheckpoints the keeper join while its exact-tier persist is still
  // live) — this composition's split and pack stages (plus pack's own
  // two-level prefix-sum forcing) would each replay the gopher-filter +
  // exact-tier chain against a lazy return, and an outer localCheckpoint
  // (the pre-r16 shape) still re-ran that chain once to fill the snapshot.
  // The keeper decisions are identical either way.
  private def q102Deduped(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpusFromPairs(q102Quality(spark, dir), stagedDocPairs(spark, dir),
      materialize = true)

  private def q102Train(spark: SparkSession, dir: String): DataFrame =
    Sampling
      .splitAssign(q102Deduped(spark, dir),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter(col("split") === "train")

  private def q102Packed(spark: SparkSession, dir: String): DataFrame =
    Packing.packByBudget(q102Train(spark, dir), budget = 512L)

  /** Stage-level timing attribution for the flagship pipeline — q102 is the
    * most expensive query on the bench (~11 % of the round-8 total), so a
    * regression there must localize to a STAGE, not just to "q102 got
    * slower". Times the four cumulative prefixes (filter, +dedup, +split,
    * +pack) by forcing each with a `count()` and differences them into
    * per-stage increments; cumulative prefixes rather than persisted
    * intermediates, so each stage is measured under exactly the plan the
    * real query runs (persisting boundaries would change what's measured).
    * Increments are floored at 0 — a later prefix can beat an earlier one
    * by scheduler noise on a warm JVM.
    */
  def q102StageBreakdown(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    // by-name: dedupCorpus runs its fixpoint jobs EAGERLY while the
    // DataFrame is being BUILT, so plan construction must happen inside
    // the timed section or the dedup stage reads as free
    def time(df: => DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      df.count()
      (System.nanoTime() - t0) / 1e9
    }
    val cumulative = Seq(
      "filter" -> time(q102Quality(spark, dir)),
      "dedup" -> time(q102Deduped(spark, dir)),
      "split" -> time(q102Train(spark, dir)),
      "pack" -> time(q102Packed(spark, dir)))
    cumulative.zip(0.0 +: cumulative.map(_._2)).map {
      case ((name, cum), prevCum) => name -> math.max(0.0, cum - prevCum)
    }
  }

  private def q102Oracle: String = {
    val stops = TextAnalysis.LangStopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString(", ")
    val trainTh = (0.8 * (1L << 60).toDouble).toLong
    s"""WITH RECURSIVE gm AS (
       |  SELECT doc_id,
       |    len(string_split($DNorm, ' '))::BIGINT AS n_words,
       |    ((100 * (len($DNorm) - (len(string_split($DNorm, ' ')) - 1)))
       |      // len(string_split($DNorm, ' ')))::BIGINT AS mean_wl_2,
       |    ((10000 * (len($DNorm) - len(regexp_replace($DNorm, '[0-9]', '', 'g'))))
       |      // greatest(len($DNorm), 1))::BIGINT AS digit_frac_4,
       |    len(list_filter(string_split($DNorm, ' '), w -> w IN ($stops)))::BIGINT
       |      AS stop_hits
       |  FROM documents),
       |qd AS (
       |  SELECT d.* FROM documents d JOIN gm USING (doc_id)
       |  WHERE gm.n_words BETWEEN 5 AND 100000 AND gm.mean_wl_2 BETWEEN 150 AND 1000
       |    AND gm.digit_frac_4 <= 2000 AND gm.stop_hits >= 1),
       |ek AS (SELECT min(doc_id) AS doc_id FROM qd
       |       GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |${minhashPairsCte("SELECT d.doc_id, d.text FROM qd d JOIN ek USING (doc_id)")},
       |pr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM ek
       |  UNION
       |  SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
       |),
       |keep AS (SELECT id FROM reach GROUP BY id HAVING min(lab) = id),
       |tr AS (
       |  SELECT d.doc_id, d.text FROM qd d JOIN keep ON keep.id = d.doc_id
       |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT < $trainTh),
       |tok AS (SELECT doc_id,
       |          len(string_split($DNorm, ' '))::INT AS n_tokens
       |        FROM tr),
       |c AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM tok)
       |SELECT doc_id, n_tokens,
       |       ((cum - n_tokens) // 512)::BIGINT AS pack_id,
       |       ((cum - n_tokens) % 512)::BIGINT AS pack_offset
       |FROM c""".stripMargin
  }

  /** Incremental dedup: the new half of the corpus (doc_id >= 250 at this
    * sf) cleaned against the existing half — exact anti-join then MinHash
    * near-dup matches across the boundary. Runs the PRODUCTION shape: the
    * existing corpus's index is written once ([[Dedup.writeIndex]]) and the
    * batch probes the persisted parquet relations — so the driver gate
    * covers the index round-trip, not just the inline derivation (their
    * equivalence is additionally asserted in DedupSpec). Oracle composes
    * the same chain with the parameterized MinHash CTE over (exact
    * survivors ∪ existing), keeping only boundary-crossing pairs (old ids
    * sort below new ids).
    */
  def q29DedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    // sf-dir-keyed (the q400 rule): the returned frame lazily reads the
    // index relations, so an unkeyed dir would let a later call at another
    // sf wipe the parquet backing a not-yet-collected result
    val idx = graft.queries.Scratch.stableDir(
      "q29-idx-" + graft.queries.Scratch.md5Hex(dir))
    Dedup.writeIndex(docs.filter(col("doc_id") < 250), idx,
      staged = Some((stagedDocShingles(spark, dir), stagedDocBands(spark, dir))))
    Dedup.dedupAgainstIndex(docs.filter(col("doc_id") >= 250), idx)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  private def q29Oracle: String =
    s"""WITH old_ AS (SELECT * FROM documents WHERE doc_id < 250),
       |new_ AS (SELECT * FROM documents WHERE doc_id >= 250),
       |es AS (SELECT n.* FROM new_ n
       |       WHERE md5(regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g')) NOT IN
       |             (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) FROM old_)),
       |${minhashPairsCte(
            "SELECT doc_id, text FROM es UNION ALL SELECT doc_id, text FROM old_")},
       |dropped AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM pairs
       |  WHERE jaccard >= 0.5 AND doc_a < 250 AND doc_b >= 250
       |)
       |SELECT doc_id, lang, source FROM es
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin

  /** Near-dup pairs → duplicate clusters (connected components, min-label).
    * The oracle computes the same components with a recursive CTE over the
    * identical generated pair set.
    */
  def q27DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    Dedup.duplicateClusters(docs, stagedDocPairs(spark, dir))
  }

  private def q27Oracle: String =
    s"""WITH RECURSIVE $minhashPairsCte,
       |pr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
       |)
       |SELECT id AS doc_id, min(lab)::BIGINT AS cluster_id FROM reach GROUP BY id""".stripMargin

  def q22DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    fanOut(documents(spark, dir))
      .select(col("doc_id"), Dedup.tokenHashes(col("text")).as("th"))
      .select(col("doc_id"), Dedup.simhashOfHashes(col("th")).as("simhash"))

  /** SimHash oracle: 48 per-bit ±1 sums, generated. */
  private def q22Oracle: String = {
    val bits = (0 until 48).map { b =>
      s"CASE WHEN list_sum(list_transform(th, h -> 2 * ((h >> $b) & 1) - 1)) >= 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("\n       + ")
    s"""WITH n AS (SELECT doc_id, $DNorm AS t FROM documents),
       |tk AS (SELECT doc_id,
       |        list_transform(string_split(t, ' '), x -> ('0x' || substr(md5(x),1,12))::BIGINT) AS th
       |       FROM n)
       |SELECT doc_id,
       |       ($bits)::BIGINT AS simhash
       |FROM tk""".stripMargin
  }

  def q25SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(fanOut(documents(spark, dir)), maxHamming = 8)

  /** SimHash near-dup pair oracle: sketch (as q22) → 4 12-bit blocking keys
    * → in-block candidates → Hamming verify. Same generated constants, so
    * the pair set is integer-exact across engines (recall < 1 by design is
    * fine: BOTH engines apply the identical blocking).
    */
  private def q25Oracle: String = {
    val bits = (0 until 48).map { b =>
      s"CASE WHEN list_sum(list_transform(th, h -> 2 * ((h >> $b) & 1) - 1)) >= 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("\n       + ")
    val blockSelects = (0 until 4).map { q =>
      s"SELECT doc_id, sk, $q AS q, (sk >> ${q * 12}) % 4096 AS key FROM sk"
    }.mkString("\n  UNION ALL ")
    s"""WITH n AS (SELECT doc_id, $DNorm AS t FROM documents),
       |tk AS (SELECT doc_id,
       |        list_transform(string_split(t, ' '), x -> ('0x' || substr(md5(x),1,12))::BIGINT) AS th
       |       FROM n),
       |sk AS (SELECT doc_id, ($bits)::BIGINT AS sk FROM tk),
       |blocks AS (
       |  $blockSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM blocks a JOIN blocks b USING (q, key)
       |  WHERE a.doc_id < b.doc_id
       |),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b, bit_count(xor(s1.sk, s2.sk))::INT AS hamming
       |  FROM cand c
       |  JOIN sk s1 ON s1.doc_id = c.doc_a
       |  JOIN sk s2 ON s2.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 8""".stripMargin
  }

  def q23NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(fanOut(documents(spark, dir)), blockCols = Seq("lang", "source"))

  private val q23Oracle =
    s"""WITH n AS (SELECT doc_id, lang, source, string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id, lang, source,
       |        CASE WHEN len(tk) >= 3
       |             THEN list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
       |                                 FOR i IN range(1, len(tk)-1)])
       |             ELSE [] END AS ng
       |      FROM n)
       |SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(len(list_intersect(a.ng, b.ng))::DOUBLE
       |             / len(list_distinct(list_concat(a.ng, b.ng))), 4) AS jaccard
       |FROM g a JOIN g b
       |  ON a.lang = b.lang AND a.source = b.source
       | AND b.doc_id - a.doc_id BETWEEN 1 AND 200""".stripMargin

  /** Bounded edit-distance fuzzy pairs (char-level dedup tier) — see
    * [[Dedup.editDistancePairs]]; the plan carries the
    * [[graft.plans.LevenshteinPrefilter]] length-difference guard
    * (PlanSpec-asserted), the oracle recomputes the full distances.
    */
  def q95EditDistance(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(fanOut(documents(spark, dir)),
      blockCols = Seq("lang"), maxDist = 50)

  private val q95Oracle =
    s"""WITH n AS (SELECT doc_id, lang, $DNorm AS t FROM documents)
       |SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       levenshtein(a.t, b.t)::INT AS dist
       |FROM n a JOIN n b
       |  ON a.lang = b.lang AND b.doc_id - a.doc_id BETWEEN 1 AND 200
       |WHERE levenshtein(a.t, b.t) <= 50""".stripMargin

  def q24EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(fanOut(embeddings(spark, dir)), blockCol = "label", threshold = 0.25)

  private val DCos =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  private val q24Oracle =
    s"""WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b, $DCos AS cos
       |      FROM e a JOIN e b ON a.label = b.label
       |       AND b.vec_id - a.vec_id BETWEEN 1 AND 200)
       |SELECT block, id_a, id_b, round(cos, 4) AS cos_r FROM p WHERE cos >= 0.25""".stripMargin

  // ---------------- similarity search ----------------

  /** q30: the exact brute-force baseline tier ITSELF — deliberately not
    * served from the [[stagedExact]] fixture: this row's bench number is
    * what one full-corpus exact pass costs, the denominator every
    * approximate tier's time is read against.
    */
  def q30KnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
  }

  private val q30Oracle =
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (SELECT q_id, vec_id,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
      |      FROM q, c WHERE vec_id <> q_id),
      |r AS (SELECT q_id, vec_id, score,
      |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
      |      FROM s)
      |SELECT q_id, vec_id, rank, round(score, 4) AS score_r FROM r WHERE rank <= 5""".stripMargin

  /** Shared ANN gate (q31/q32/q34): an approximate result cannot hash-match
    * a foreign engine, so the gate is split exactly like q83's sketch bound —
    * the EXACT side (|queries|·k brute-force pairs) is recomputed
    * value-for-value by the oracle, and the approximate tier is gated
    * through its RECALL bound, an integer flag the oracle pins to TRUE.
    * Recall is aggregated over the whole query batch (the tier's documented
    * promise, same as SimilaritySpec asserts) — a per-query pin would turn
    * one unlucky bucket into a red driver row. All arithmetic is integer
    * (`hits·100 >= 80·exact`), so no float threshold can flip the flag.
    */
  private def annRecallGate(ann: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select("q_id", "vec_id")
    val hits = ex.intersect(ann.select("q_id", "vec_id"))
      .agg(count(lit(1)).as("hits"))
    ex.agg(count(lit(1)).as("exact_pairs"))
      .crossJoin(hits)
      .select(col("exact_pairs"),
        (col("hits") * 100 >= lit(80) * col("exact_pairs")).cast("int")
          .as("recall_ge_80"))
  }

  /** The exact side of the ANN gates: brute-force top-5 pair count for the
    * vec_id < 8 query batch (the q30 ranking CTE), plus the pinned flag.
    */
  private val annRecallOracle =
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (SELECT q_id, vec_id,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
      |      FROM q, c WHERE vec_id <> q_id),
      |r AS (SELECT q_id, vec_id,
      |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
      |      FROM s)
      |SELECT count(*)::BIGINT AS exact_pairs, 1::INT AS recall_ge_80
      |FROM r WHERE rank <= 5""".stripMargin

  /** The exact side of every ANN recall gate, staged ONCE per JVM per
    * (sf dir, variant) — the q63/q64 fixture discipline, same cache shape
    * as [[prebuiltIvfIndex]]. Eight consumers (q31/q32/q34/q229/q230/q269/
    * q308/q395, three bench trials each) previously EACH recomputed the
    * identical |Q|·|corpus| brute-force pass inside their timed path —
    * ~25 s of the sf0.1 bench tail was the same exact pairs over the same
    * embeddings fixture. The gate is NOT weakened: the exact side is still
    * computed by the same [[Similarity.bruteForceTopK]] plan (and still
    * recomputed value-for-value by each query's DuckDB oracle) — it is
    * just computed once per corpus per JVM and read back from parquet, so
    * each gate's timed path is its OWN approximate tier plus the recall
    * comparison. `variant` keys the filtered sub-corpus gates (q269 gates
    * against label = 3).
    */
  private def stagedExact(spark: SparkSession, dir: String, variant: String)(
      build: => DataFrame): DataFrame =
    Staging.table(spark, Staging.dir(s"ann-exact-$variant", dir) { out =>
      build.write.mode("overwrite").parquet(out)
    })

  /** Staged exact top-5 for the vec_id < 8 query batch over the full corpus
    * (the [[annRecallOracle]] table). `private[ext]` so SimilaritySpec can
    * assert the staged rows are bit-equal to a fresh brute-force pass (the
    * machine-checked form of "the gate is not weakened"). */
  private[ext] def exactTop5(spark: SparkSession, dir: String): DataFrame =
    stagedExact(spark, dir, "all") {
      val e = fanOut(embeddings(spark, dir))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
    }

  /** Staged exact top-5 over the label = 3 sub-corpus (q269's gate side). */
  private[ext] def exactTop5Label3(spark: SparkSession, dir: String): DataFrame =
    stagedExact(spark, dir, "l3") {
      val e = fanOut(embeddings(spark, dir))
      Similarity.bruteForceTopK(e.filter(col("label") === 3),
        e.filter(col("vec_id") < 8), k = 5)
    }

  /** Staged leave-one-out kNN predictions over the WHOLE labeled corpus
    * (knnClassify(e, e, k = 5)) — the shared input of the two model-QA
    * reports: q306 (confusion marginals) consumed it lazily TWICE per
    * trial (byTrue + byPred each re-ran the |corpus|² brute-force pass)
    * and q307 (calibration) once more; staged, each report's timed path
    * is its own contraction + ppm arithmetic, the r13 stagedExact
    * discipline. Both oracles still recompute the full leave-one-out pass
    * value-for-value; SimilaritySpec asserts staged ≡ fresh row identity. */
  private[ext] def stagedKnnLoo(spark: SparkSession, dir: String): DataFrame =
    stagedExact(spark, dir, "knn-loo") {
      val e = fanOut(embeddings(spark, dir))
      Similarity.knnClassify(e, e, k = 5)
    }

  /** ANN (LSH-bucketed) under the [[annRecallGate]]: the hyperplane tier's
    * recall@5 against the exact tier, driver-checked (the oracle recomputes
    * the exact pair count and pins the recall flag).
    */
  def q31KnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    annRecallGate(Similarity.lshTopK(e, q, k = 5),
      exactTop5(spark, dir))
  }

  /** ANN (IVF inverted-file index) under the [[annRecallGate]]. Runs the
    * PRODUCTION shape: the index (centroid model + cell-partitioned
    * inverted file) is written once and the query batch probes the
    * persisted parquet — covering the build/probe split under the driver
    * gate (equivalence to the in-memory path is spec-asserted).
    *
    * nprobe=12/16: the driver's synthetic embeddings are near-uniform —
    * IVF's hardest case, where cells barely separate neighborhoods — so the
    * gate probes 3/4 of the cells to hold recall@5 well clear of the pinned
    * bound (measured 0.90 at sf0.01, 0.975 at sf0.1; the nprobe=8 default
    * sits at 0.75 here while fine on clustered real-world corpora).
    */
  def q32KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val idx = graft.queries.Scratch.stableDir(
      "q32-idx-" + graft.queries.Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    Similarity.writeIvfIndex(e, idx)
    annRecallGate(Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 12),
      exactTop5(spark, dir))
  }

  /** q229: product-quantization ANN under the [[annRecallGate]] — ADC over
    * 8×16 codebooks (8-byte codes for 64-dim vectors), 150-candidate
    * shortlist, exact re-rank to top-5. See [[Similarity.pqTopK]].
    *
    * Shortlist sizing mirrors q32's nprobe note: the driver's synthetic
    * near-uniform embeddings are the hardest case for a coarse codebook —
    * measured recall@5 here is 0.70/0.85/0.90 at shortlist 50/100/150
    * (codes=16), so 150 holds the 0.8 gate with margin; clustered
    * real-world corpora support far smaller shortlists.
    */
  def q229PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val (books, subDim, enc) = stagedPqModel(spark, dir)
    annRecallGate(
      Similarity.pqTopKFromModel(e, q, books, subDim, enc, k = 5, shortlist = 150),
      exactTop5(spark, dir))
  }

  /** PQ codebooks + corpus encoding trained ONCE per JVM per sf dir (8×16
    * Lloyd, iters = 2 — [[Similarity.pqTopK]]'s defaults) and the coarse
    * IVF model beside them — the [[stagedExact]]/[[prebuiltIvfIndex]]
    * discipline applied to the trained-model tiers: q229/q230 previously
    * EACH retrained the identical codebooks over the same embeddings
    * fixture in every bench trial (~8.6 s of the sf0.1 idle map was
    * repeated identical training), where a production deployment trains
    * once per corpus version and serves. The gates are NOT weakened: the
    * models come from the very same [[Similarity.pqTrainEncode]] /
    * [[Similarity.ivfCentroids]] plans (SimilaritySpec asserts the staged
    * pieces equal a fresh training pass and that the served results equal
    * the train-inline path), and each gate still scores its own ADC /
    * probe / re-rank against the staged exact side.
    */
  private[ext] def stagedPqModel(
      spark: SparkSession, dir: String): (Array[Array[Array[Double]]], Int, DataFrame) = {
    val ((books, subDim), enc) = Staging.frameWith("pq-model", spark, dir, "embeddings") {
      val (b, sd, enc) = Similarity.pqTrainEncode(
        fanOut(embeddings(spark, dir)), subspaces = 8, codes = 16, iters = 2,
        idCol = "vec_id", vecCol = "embedding")
      ((b, sd), enc)
    }
    (books, subDim, enc)
  }

  /** Coarse IVF model (16 cells, iters = 2 — [[Similarity.ivfPqTopK]]'s
    * defaults) + the (vec_id, cell) inverted assignment, built once per
    * JVM per sf dir for q230's composed tier. */
  private[ext] def stagedIvfCoarse(
      spark: SparkSession, dir: String): (Array[Array[Double]], DataFrame) =
    Staging.frameWith("ivf-coarse", spark, dir, "embeddings") {
      val e = fanOut(embeddings(spark, dir))
      val ctr = Similarity.ivfCentroids(e, cells = 16, iters = 2)
      (ctr, Similarity.withNearestCell(
          e.select(col("vec_id"), col("embedding").as("v"),
            Similarity.norm(col("embedding")).as("__vn")),
          "v", "__vn", "vec_id", ctr)
        .select(col("vec_id"), col("cell")))
    }

  /** q230: IVF × PQ composed ANN (the faiss-style architecture) under the
    * [[annRecallGate]] — cell pruning at nprobe=14/16 over the ADC/code
    * path, exact re-rank of a 200-candidate shortlist. Stage recalls
    * multiply, so both knobs sit above their solo-tier settings. See
    * [[Similarity.ivfPqTopK]].
    */
  def q230IvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val (books, subDim, enc) = stagedPqModel(spark, dir)
    val (centroids, corpusCells) = stagedIvfCoarse(spark, dir)
    annRecallGate(
      Similarity.ivfPqFromModel(e, q, centroids, corpusCells, books, subDim,
        enc, k = 5, nprobe = 14, shortlist = 200),
      exactTop5(spark, dir))
  }

  /** q395: Johnson–Lindenstrauss random-projection ANN under the
    * [[annRecallGate]] — the training-free dense-projection tier
    * ([[Similarity.jlTopK]]: md5-parity ±1 matrix, 64 → 32 dims,
    * projected-space shortlist of 400, exact re-rank). The fourth
    * compression point next to 1-bit LSH (q31), trained PQ codebooks
    * (q229) and Matryoshka prefixes (q340): no training pass, no stored
    * model — the matrix is a pure function of its indices — the variant
    * an ingest pipeline can apply at write time before any index exists.
    * Tuning mirrors q31/q32's: the driver's near-uniform synthetic
    * embeddings are the hardest case for ANY projection (scores
    * concentrate, so rank survives projection poorly) — 32/400 holds
    * recall@5 at 87.5 % here (gate at 80); a clustered real corpus
    * supports the 16-dim default and a far smaller shortlist.
    */
  def q395JlAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    annRecallGate(Similarity.jlTopK(e, q, k = 5, outDims = 32, shortlist = 400),
      exactTop5(spark, dir))
  }

  /** IVF index built ONCE per JVM per sf dir — backs the probe-only row so
    * its bench number reads as what an ANN service actually serves.
    */
  private def prebuiltIvfIndex(spark: SparkSession, dir: String): String =
    Staging.dir("ivf-prebuilt", dir) { idx =>
      Similarity.writeIvfIndex(fanOut(embeddings(spark, dir)), idx)
    }

  /** ANN probe against a PREBUILT IVF index, under the [[annRecallGate]] —
    * the shape that matters for an ANN service, where the index is authored
    * once per corpus version and probed millions of times. q32 deliberately
    * keeps the one-time build inside its timed path (gating the build/probe
    * round-trip); this row's index build is memoized per JVM, so its timed
    * path is the probe (centroid scoring, dynamic partition pruning into
    * the probed cells, top-k) plus the gate's one exact-tier pass over the
    * corpus — the brute-force comparison that makes the recall
    * driver-checkable. (Its index is an independent k-means training from
    * q32's, so bit-identity to q32 is not promised — float summation order
    * can perturb centroids; the recall promise is what both must meet.)
    */
  def q34IvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val idx = prebuiltIvfIndex(spark, dir)
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    // nprobe=12: same near-uniform-corpus tuning as q32 (see there)
    annRecallGate(Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 12),
      exactTop5(spark, dir))
  }

  /** q98: the SQL surface of the custom Catalyst kernels under the driver
    * gate — `GraftFunctions.register` puts `vec_dot`/`vec_norm`/
    * `vec_cosine` in the session's function registry and the query runs as
    * plain `spark.sql` text (the deployment mode of
    * `spark.sql.extensions=graft.functions.GraftExtensions`). Same numeric
    * contract as the Column API (sequential double accumulation), so the
    * floored outputs hash-match `list_dot_product` exactly — proving the
    * SQL path routes to the same codegen'd expressions.
    */
  def q98SqlKernels(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    fanOut(embeddings(spark, dir)).createOrReplaceTempView("embeddings_q98")
    spark.sql(
      """SELECT vec_id,
        |       floor(vec_dot(embedding, embedding) * 10000) AS self_dot_4,
        |       floor(vec_norm(embedding) * 10000) AS norm_4,
        |       floor(vec_cosine(embedding, embedding) * 10000) AS self_cos_4
        |FROM embeddings_q98""".stripMargin)
  }

  private val q98Oracle =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT vec_id,
      |       floor(list_dot_product(v, v) * 10000)::BIGINT AS self_dot_4,
      |       floor(sqrt(list_dot_product(v, v)) * 10000)::BIGINT AS norm_4,
      |       floor(list_dot_product(v, v)
      |             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(v, v)))
      |             * 10000)::BIGINT AS self_cos_4
      |FROM e""".stripMargin

  /** SQ8 embedding quantization: per-vector model summarized with exact
    * integer/floored outputs so both engines hash-match.
    */
  def q33Sq8(spark: SparkSession, dir: String): DataFrame =
    fanOut(embeddings(spark, dir))
      .select(col("vec_id"), Similarity.sq8(col("embedding")).as("q"))
      .select(
        col("vec_id"),
        floor(col("q.mn") * 10000).cast("long").as("mn_4"),
        floor(col("q.mx") * 10000).cast("long").as("mx_4"),
        expr("aggregate(q.codes, 0L, (a, x) -> a + x)").as("code_sum"),
        array_max(col("q.codes")).as("code_max"),
        array_min(col("q.codes")).as("code_min"))

  private val q33Oracle =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
      |q AS (SELECT vec_id, mn, mx,
      |        list_transform(v, x -> CASE WHEN mx = mn THEN 0
      |          ELSE least(floor((x - mn) * 255.0 / (mx - mn)), 255.0)::INT END) AS codes
      |      FROM m)
      |SELECT vec_id,
      |       floor(mn * 10000)::BIGINT AS mn_4,
      |       floor(mx * 10000)::BIGINT AS mx_4,
      |       list_sum(codes)::BIGINT AS code_sum,
      |       list_max(codes)::INT AS code_max,
      |       list_min(codes)::INT AS code_min
      |FROM q""".stripMargin

  /** SemDeDup-style semantic dedup: survivors after dropping every vector
    * with a lower-id cosine near-duplicate inside its cluster (the `label`
    * column stands in for the k-means cluster id) — see
    * [[Similarity.semanticDedup]]. Same candidate constants as q24, so the
    * oracle's NOT EXISTS replays the identical pair set.
    */
  def q74SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(fanOut(embeddings(spark, dir)),
      blockCol = "label", threshold = 0.25)
      .select(col("vec_id"), col("label"))

  private val q74Oracle =
    s"""WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT b.vec_id, b.label FROM e b
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM e a
       |  WHERE a.label = b.label
       |    AND b.vec_id - a.vec_id BETWEEN 1 AND 200
       |    AND $DCos >= 0.25)""".stripMargin

  /** k-NN label classification over the exact tier (majority vote of the
    * 10 nearest neighbors, integer tie-breaks) — see
    * [[Similarity.knnClassify]].
    */
  def q77KnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    Similarity.knnClassify(e, e.filter(col("vec_id") < 32), k = 10)
  }

  private val q77Oracle =
    """WITH q AS (SELECT vec_id AS q_id, label AS true_label, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 32),
      |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (SELECT q_id, true_label, vec_id, label,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
      |      FROM q, c WHERE vec_id <> q_id),
      |nn AS (SELECT q_id, true_label, label FROM (
      |         SELECT q_id, true_label, label,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY score DESC, vec_id ASC) AS rank
      |         FROM s) r WHERE rank <= 10),
      |v AS (SELECT q_id, true_label, label AS pred_label, count(*)::BIGINT AS votes
      |      FROM nn GROUP BY 1, 2, 3),
      |p AS (SELECT q_id, true_label, pred_label, votes,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY votes DESC, pred_label ASC) AS rn
      |      FROM v)
      |SELECT q_id, true_label, pred_label, votes,
      |       (pred_label = true_label)::INT AS correct
      |FROM p WHERE rn = 1""".stripMargin

  /** Per-label SQ8-space centroids (exact integer means over the quantized
    * codes) — see [[Similarity.sq8Centroids]].
    */
  def q78Sq8Centroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.sq8Centroids(fanOut(embeddings(spark, dir)))

  private val q78Oracle =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT label, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
      |q AS (SELECT label,
      |        list_transform(v, x -> CASE WHEN mx = mn THEN 0
      |          ELSE least(floor((x - mn) * 255.0 / (mx - mn)), 255.0)::BIGINT END) AS codes
      |      FROM m),
      |x AS (SELECT label, i - 1 AS dim, codes[i] AS code
      |      FROM q, unnest(range(1, len(codes) + 1)) AS t(i))
      |SELECT label, dim::INT AS dim, count(*)::BIGINT AS n,
      |       sum(code)::BIGINT AS code_sum,
      |       ((10000 * sum(code)) // count(*))::BIGINT AS code_mean_4
      |FROM x GROUP BY 1, 2""".stripMargin

  // ---------------- text analysis ----------------

  private val dHits: Map[String, String] = TextAnalysis.LangStopwords.map { case (lang, words) =>
    val list = words.map(w => s"'$w'").mkString(", ")
    lang -> s"len(list_filter(string_split($DNorm, ' '), t_ -> t_ IN ($list)))::INT"
  }.toMap

  def q40LangId(spark: SparkSession, dir: String): DataFrame = {
    val scores = TextAnalysis.langScores(col("text"))
    fanOut(documents(spark, dir)).select(
      (col("doc_id") +: scores.map { case (l, c) => c.as(s"${l}_hits") }) :+
        TextAnalysis.langGuess(scores).as("lang_guess"): _*)
  }

  private def q40Oracle: String = {
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val cases = langs.map { l =>
      val conds = langs.filterNot(_ == l).map(o => s"${l}_hits >= ${o}_hits").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n         ")
    s"""WITH h AS (SELECT doc_id, ${langs.map(l => s"${dHits(l)} AS ${l}_hits").mkString(",\n        ")}
       |           FROM documents)
       |SELECT doc_id, ${langs.map(l => s"${l}_hits").mkString(", ")},
       |       CASE $cases
       |            ELSE 'und' END AS lang_guess
       |FROM h""".stripMargin
  }

  /** Char-trigram language ID (n-gram heuristic variant of q40). */
  def q46NgramLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
      .select(col("doc_id"),
        Dedup.shinglesOfNorm(TextAnalysis.normalize(col("text")), 3).as("tg"))
    val scores = TextAnalysis.ngramLangScores(col("tg"))
    docs.select(
      (col("doc_id") +: scores.map { case (l, c) => c.as(s"${l}_tg_hits") }) :+
        TextAnalysis.langGuess(scores).as("lang_guess"): _*)
  }

  private def q46Oracle: String = {
    val langs = TextAnalysis.LangStopwords.map(_._1)
    def profile(l: String) = TextAnalysis.ngramProfile(
      TextAnalysis.LangStopwords.toMap.apply(l))
      .map(t => s"'$t'").mkString(", ")
    val hitCols = langs.map { l =>
      s"len(list_filter(tg, x -> x IN (${profile(l)})))::INT AS ${l}_tg_hits"
    }
    val cases = langs.map { l =>
      val conds = langs.filterNot(_ == l).map(o => s"${l}_tg_hits >= ${o}_tg_hits").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n         ")
    s"""WITH n AS (SELECT doc_id, $DNorm AS t FROM documents),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(t) >= 3
       |             THEN list_distinct([substr(t, i, 3) FOR i IN range(1, len(t)-1)])
       |             ELSE [] END AS tg
       |      FROM n),
       |h AS (SELECT doc_id, ${hitCols.mkString(",\n        ")} FROM g)
       |SELECT doc_id, ${langs.map(l => s"${l}_tg_hits").mkString(", ")},
       |       CASE $cases
       |            ELSE 'und' END AS lang_guess
       |FROM h""".stripMargin
  }

  def q41Quality(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val nTok = TextAnalysis.tokenCount(text)
    val punct = TextAnalysis.punctCount(text)
    val stop = TextAnalysis.stopwordHits(TextAnalysis.tokens(text), TextAnalysis.LangStopwords.head._2)
    fanOut(documents(spark, dir)).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      punct.as("punct"),
      stop.as("stop_hits"),
      TextAnalysis.qualityScore(nTok, punct, stop, col("n_chars")).as("quality"))
  }

  private def q41Oracle: String = {
    val en = dHits("en")
    s"""WITH c AS (SELECT doc_id,
       |        len(string_split($DNorm, ' '))::INT AS n_tokens,
       |        len(regexp_extract_all(text, '[.,!?;:]'))::INT AS punct,
       |        $en AS stop_hits
       |      FROM documents)
       |SELECT doc_id, n_tokens, punct, stop_hits,
       |       round(0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
       |           + 0.4 * (1.0 - least(1.0, punct::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)))
       |           + 0.3 * least(1.0, 4.0 * stop_hits::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)), 4)
       |         AS quality
       |FROM c""".stripMargin
  }

  def q42TokenStats(spark: SparkSession, dir: String): DataFrame =
    fanOut(documents(spark, dir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("ws_tokens"),
        sum(TextAnalysis.bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"),
        sum(col("n_chars")).as("chars"))

  private val q42Oracle =
    s"""SELECT source, count(*)::BIGINT AS docs,
       |       sum(len(string_split($DNorm, ' ')))::BIGINT AS ws_tokens,
       |       sum(len(regexp_extract_all($DNorm, '${TextAnalysis.BpeTokenPattern}')))::BIGINT AS bpe_tokens,
       |       sum(n_chars)::BIGINT AS chars
       |FROM documents GROUP BY source""".stripMargin

  def q43Fingerprint(spark: SparkSession, dir: String): DataFrame =
    fanOut(documents(spark, dir))
      .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("t"))
      .select(
        col("doc_id"),
        md5(col("t")).as("fingerprint"),
        TextAnalysis.rollingHashOfNorm(col("t")).as("rolling_hash"))

  private val q43Oracle =
    s"""WITH n AS (SELECT doc_id, $DNorm AS t FROM documents)
       |SELECT doc_id, md5(t) AS fingerprint,
       |       list_reduce(
       |         list_prepend(0::BIGINT,
       |           list_transform([substr(t, i, 1) FOR i IN range(1, len(t)+1)],
       |                          c -> ascii(c)::BIGINT)),
       |         (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
       |FROM n""".stripMargin

  /** Composed per-document text profile ([[TextAnalysis.profile]]) — the
    * one-pass "everything" projection a curation pipeline actually runs
    * (token counts, per-language stopword hits, language guess, quality,
    * fingerprints). Every component has its own q-row (q40-q43); this row
    * pins the COMPOSITION, whose oracle is assembled from the same
    * generated fragments so the constants cannot drift.
    */
  def q47Profile(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.profile(fanOut(documents(spark, dir)))
      .select("doc_id", "n_tokens", "n_bpe_tokens", "punct",
        "en_hits", "es_hits", "de_hits", "fr_hits", "lang_guess", "quality",
        "fingerprint", "rolling_hash")

  private def q47Oracle: String = {
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val cases = langs.map { l =>
      val conds = langs.filterNot(_ == l).map(o => s"${l}_hits >= ${o}_hits").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n         ")
    s"""WITH h AS (SELECT doc_id, $DNorm AS t, text,
       |        len(string_split($DNorm, ' '))::INT AS n_tokens,
       |        len(regexp_extract_all($DNorm, '${TextAnalysis.BpeTokenPattern}'))::INT AS n_bpe_tokens,
       |        len(regexp_extract_all(text, '[.,!?;:]'))::INT AS punct,
       |        ${langs.map(l => s"${dHits(l)} AS ${l}_hits").mkString(",\n        ")}
       |      FROM documents)
       |SELECT doc_id, n_tokens, n_bpe_tokens, punct,
       |       ${langs.map(l => s"${l}_hits").mkString(", ")},
       |       CASE $cases
       |            ELSE 'und' END AS lang_guess,
       |       round(0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
       |           + 0.4 * (1.0 - least(1.0, punct::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)))
       |           + 0.3 * least(1.0, 4.0 * en_hits::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)), 4)
       |         AS quality,
       |       md5(t) AS fingerprint,
       |       list_reduce(
       |         list_prepend(0::BIGINT,
       |           list_transform([substr(t, i, 1) FOR i IN range(1, len(t)+1)],
       |                          c -> ascii(c)::BIGINT)),
       |         (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
       |FROM h""".stripMargin
  }

  /** Benchmark decontamination: training half (doc_id >= 50) cleaned of
    * docs sharing >= 2 distinct word trigrams with the "benchmark" half
    * (doc_id < 50) — the test-set-leakage guard. Oracle replays the same
    * n-gram overlap with DuckDB list arithmetic.
    */
  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    Dedup.decontaminate(
      docs.filter(col("doc_id") >= 50),
      docs.filter(col("doc_id") < 50))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  private val q48Oracle =
    s"""WITH n AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(tk) >= 3
       |             THEN list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
       |                                 FOR i IN range(1, len(tk)-1)])
       |             ELSE [] END AS ng
       |      FROM n),
       |bn AS (SELECT DISTINCT unnest(ng) AS ng FROM g WHERE doc_id < 50),
       |tn AS (SELECT doc_id, unnest(ng) AS ng FROM g WHERE doc_id >= 50),
       |bad AS (SELECT doc_id FROM tn JOIN bn USING (ng)
       |        GROUP BY doc_id HAVING count(DISTINCT ng) >= 2)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** Audit half of the decontamination API (q48 is the drop half): which
    * training docs are contaminated, and by how many distinct benchmark
    * trigrams — the report a curation run files before deleting anything.
    * Oracle shares q48's n-gram CTE chain, keeping the two rows provably
    * two views of one computation.
    */
  def q49ContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    Dedup.contaminationReport(
      docs.filter(col("doc_id") >= 50),
      docs.filter(col("doc_id") < 50))
      .select(col("doc_id"), col("hits"))
  }

  private val q49Oracle =
    s"""WITH n AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(tk) >= 3
       |             THEN list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
       |                                 FOR i IN range(1, len(tk)-1)])
       |             ELSE [] END AS ng
       |      FROM n),
       |bn AS (SELECT DISTINCT unnest(ng) AS ng FROM g WHERE doc_id < 50),
       |tn AS (SELECT doc_id, unnest(ng) AS ng FROM g WHERE doc_id >= 50)
       |SELECT doc_id, count(DISTINCT ng)::BIGINT AS hits
       |FROM tn JOIN bn USING (ng)
       |GROUP BY doc_id HAVING count(DISTINCT ng) >= 2""".stripMargin

  /** PII scrub: each doc gets deterministic synthetic PII (email, phone,
    * IPv4 built from doc_id — the fixture corpus is PII-free word salad),
    * then [[TextAnalysis.redactPii]] scrubs it. The oracle rebuilds the
    * same augmented text and runs the SAME regex constants through
    * DuckDB's RE2, so the md5 of the redacted text only matches if both
    * engines agree on every match boundary.
    */
  def q54PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com at +1 555-00"), (col("doc_id") % 100).cast("string"),
      lit("-12 34 or 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    fanOut(documents(spark, dir))
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        md5(TextAnalysis.redactPii(col("t"))).as("red_md5"),
        regexp_count(col("t"), lit(TextAnalysis.EmailRe)).as("n_email"),
        regexp_count(col("t"), lit(TextAnalysis.PhoneRe)).as("n_phone"),
        regexp_count(col("t"), lit(TextAnalysis.Ipv4Re)).as("n_ip"))
  }

  private def q54Oracle: String = {
    import TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
    s"""WITH p AS (SELECT doc_id,
       |  text || ' contact user' || doc_id::VARCHAR || '@example.com at +1 555-00' ||
       |  (doc_id % 100)::VARCHAR || '-12 34 or 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS t
       |FROM documents)
       |SELECT doc_id,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g')) AS red_md5,
       |  len(regexp_extract_all(t, '$EmailRe'))::INT AS n_email,
       |  len(regexp_extract_all(t, '$PhoneRe'))::INT AS n_phone,
       |  len(regexp_extract_all(t, '$Ipv4Re'))::INT AS n_ip
       |FROM p""".stripMargin
  }

  /** Intra-document repetition metrics (Gopher-style boilerplate filters)
    * over the documents table — see [[TextAnalysis.repetitionStats]].
    */
  def q55Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(fanOut(documents(spark, dir)))

  private def q55Oracle: String =
    s"""WITH n AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |w AS (SELECT doc_id, len(tk)::INT AS n_words,
       |             len(list_distinct(tk))::INT AS n_distinct FROM n),
       |g AS (SELECT doc_id,
       |        unnest(CASE WHEN len(tk) >= 2
       |               THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |               ELSE [] END) AS bg
       |      FROM n),
       |c AS (SELECT doc_id, bg, count(*) AS c FROM g GROUP BY doc_id, bg),
       |t AS (SELECT doc_id, max(c) AS topn FROM c GROUP BY doc_id)
       |SELECT doc_id, n_words, n_distinct,
       |  floor((n_words - n_distinct)::DOUBLE / n_words * 10000)::BIGINT AS dup_word_frac_4,
       |  coalesce(topn, 0)::BIGINT AS top_bigram_n,
       |  floor(coalesce(topn, 0)::DOUBLE / greatest(n_words - 1, 1) * 10000)::BIGINT
       |    AS top_bigram_frac_4
       |FROM w LEFT JOIN t USING (doc_id)""".stripMargin

  /** TF-IDF keyword extraction (top 3 per document) — see
    * [[TextAnalysis.tfidfKeywords]] for why the idf factor is rational
    * rather than logarithmic (cross-engine bit-exactness) and why the rank
    * is integer-only.
    */
  def q71Tfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywords(fanOut(documents(spark, dir)), k = 3)

  private def q71Oracle: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf_n FROM tk
       |       WHERE term <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf_n)::BIGINT AS n_tok FROM tf GROUP BY 1),
       |df AS (SELECT term, count(*)::BIGINT AS df_n FROM tf GROUP BY 1),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |s AS (SELECT tf.doc_id, tf.term, tf.tf_n, df.df_n,
       |        floor(tf.tf_n * 10000.0 * nd.n_docs / (dl.n_tok * df.df_n))::BIGINT AS score_4,
       |        row_number() OVER (PARTITION BY tf.doc_id
       |          ORDER BY tf.tf_n DESC, df.df_n ASC, tf.term ASC) AS rnk
       |      FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN nd)
       |SELECT doc_id, term, tf_n, df_n, score_4, rnk::BIGINT AS rnk
       |FROM s WHERE rnk <= 3""".stripMargin

  /** Corpus bigram vocabulary (top 200 by count, ties by n-gram) — the
    * tokenizer-training / BPE-merge-round shape. See
    * [[TextAnalysis.vocabNgrams]] for the `TakeOrderedAndProject` scale
    * argument.
    */
  def q72Vocab(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabNgrams(fanOut(documents(spark, dir)), n = 2, topN = 200)

  private def q72Oracle: String =
    s"""WITH n AS (SELECT string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT unnest(CASE WHEN len(tk) >= 2
       |              THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |              ELSE [] END) AS ngram FROM n)
       |SELECT ngram, count(*)::BIGINT AS n FROM g GROUP BY 1
       |ORDER BY n DESC, ngram LIMIT 200""".stripMargin

  /** Per-document unigram-commonness score (the integer-exact perplexity
    * proxy) — see [[TextAnalysis.commonnessScore]] for the rational
    * arithmetic that keeps both engines identical.
    */
  def q75Commonness(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.commonnessScore(fanOut(documents(spark, dir)))

  private def q75Oracle: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf_n FROM tk
       |       WHERE term <> '' GROUP BY 1, 2),
       |c AS (SELECT term, sum(tf_n)::BIGINT AS cnt FROM tf GROUP BY 1),
       |t AS (SELECT sum(cnt)::BIGINT AS n_total FROM c),
       |d AS (SELECT tf.doc_id, sum(tf.tf_n)::BIGINT AS n_tok,
       |        sum(tf.tf_n * c.cnt)::BIGINT AS cnt_sum
       |      FROM tf JOIN c USING (term) GROUP BY 1)
       |SELECT doc_id, n_tok,
       |       ((1000000 * cnt_sum) // (n_tok * t.n_total))::BIGINT AS score_ppm
       |FROM d CROSS JOIN t""".stripMargin

  /** Gopher-style hard quality rules with the composite keep flag — see
    * [[TextAnalysis.gopherRules]]; the oracle replays the stopword list and
    * thresholds from the same constants.
    */
  def q85GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(fanOut(documents(spark, dir)))

  private def q85Oracle: String = {
    val stops = TextAnalysis.LangStopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString(", ")
    s"""WITH n AS (SELECT doc_id, $DNorm AS t, string_split($DNorm, ' ') AS tk
       |           FROM documents),
       |m AS (SELECT doc_id,
       |        len(tk)::BIGINT AS n_words,
       |        ((100 * (len(t) - (len(tk) - 1))) // len(tk))::BIGINT AS mean_wl_2,
       |        ((10000 * (len(t) - len(regexp_replace(t, '[0-9]', '', 'g'))))
       |          // greatest(len(t), 1))::BIGINT AS digit_frac_4,
       |        len(list_filter(tk, w -> w IN ($stops)))::BIGINT AS stop_hits
       |      FROM n)
       |SELECT doc_id, n_words, mean_wl_2, digit_frac_4, stop_hits,
       |       (n_words BETWEEN 5 AND 100000 AND mean_wl_2 BETWEEN 150 AND 1000
       |        AND digit_frac_4 <= 2000 AND stop_hits >= 1)::INT AS keep
       |FROM m""".stripMargin
  }

  /** q145: per-doc bigram novelty vs the corpus — see
    * [[TextAnalysis.ngramNovelty]] for the boilerplate-signal semantics and
    * the one-df-shuffle scale shape. The oracle replays distinct-bigram
    * extraction (q72's list form), document frequency, and the integer ppm.
    */
  def q145NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(fanOut(documents(spark, dir)), n = 2)

  private def q145Oracle: String =
    s"""WITH tk AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 2
       |        THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |        ELSE [] END)) AS ngram FROM tk),
       |df AS (SELECT ngram, count(*)::BIGINT AS df_n FROM g GROUP BY 1),
       |d AS (SELECT g.doc_id, count(*)::BIGINT AS n_ngrams,
       |        sum((df.df_n >= 2)::INT)::BIGINT AS n_shared
       |      FROM g JOIN df USING (ngram) GROUP BY 1)
       |SELECT doc_id, n_ngrams, n_shared,
       |       ((1000000 * n_shared) // n_ngrams)::BIGINT AS shared_ppm
       |FROM d""".stripMargin

  /** q147: per-doc OOV rate against the corpus' induced top-200 unigram
    * vocabulary — see [[TextAnalysis.oovRate]] (model-sized vocab,
    * explicitly broadcast). The oracle replays the vocabulary induction
    * with the identical `count desc, term asc` tie-break.
    */
  def q147OovRate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovRate(fanOut(documents(spark, dir)), topN = 200)

  private def q147Oracle: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term
       |            FROM documents),
       |t2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
       |v AS (SELECT term FROM (SELECT term, count(*)::BIGINT AS cnt FROM t2
       |        GROUP BY 1 ORDER BY cnt DESC, term LIMIT 200)),
       |d AS (SELECT t2.doc_id, count(*)::BIGINT AS n_tokens,
       |        sum((v.term IS NULL)::INT)::BIGINT AS n_oov
       |      FROM t2 LEFT JOIN v ON v.term = t2.term GROUP BY 1)
       |SELECT doc_id, n_tokens, n_oov,
       |       ((1000000 * n_oov) // n_tokens)::BIGINT AS oov_ppm
       |FROM d""".stripMargin

  /** Corpus bigram collocations by integer lift (rational PMI) — see
    * [[TextAnalysis.collocations]].
    */
  def q76Collocations(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(fanOut(documents(spark, dir)), minCount = 5L, topN = 100)

  private def q76Oracle: String =
    s"""WITH n AS (SELECT string_split($DNorm, ' ') AS tk FROM documents),
       |uni AS (SELECT w, count(*)::BIGINT AS c_w
       |        FROM (SELECT unnest(tk) AS w FROM n) u WHERE w <> '' GROUP BY 1),
       |bi AS (SELECT ngram, count(*)::BIGINT AS c_ab FROM (
       |         SELECT unnest(CASE WHEN len(tk) >= 2
       |                  THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |                  ELSE [] END) AS ngram FROM n) g
       |       GROUP BY 1),
       |t AS (SELECT sum(c_ab)::BIGINT AS n_bi FROM bi)
       |SELECT ngram, c_ab, a.c_w AS c_a, b.c_w AS c_b,
       |       ((10000 * t.n_bi * c_ab) // (a.c_w * b.c_w))::BIGINT AS lift_4
       |FROM bi CROSS JOIN t
       |JOIN uni a ON a.w = string_split(ngram, ' ')[1]
       |JOIN uni b ON b.w = string_split(ngram, ' ')[2]
       |WHERE c_ab >= 5
       |ORDER BY lift_4 DESC, ngram ASC LIMIT 100""".stripMargin

  /** Token-budget sequence packing (concat-and-chunk, budget 512) — see
    * [[Packing.packByBudget]]. The oracle is the definitional single
    * running sum; the Spark side computes the identical integers through
    * the two-level distributed prefix sum, so the hash match proves the
    * scalable formulation equals the sequential definition.
    */
  def q58TokenPack(spark: SparkSession, dir: String): DataFrame =
    Packing.packByBudget(fanOut(documents(spark, dir)), budget = 512L)

  private def q58Oracle: String =
    s"""WITH n AS (SELECT doc_id, len(string_split($DNorm, ' '))::INT AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM n)
       |SELECT doc_id, n_tokens,
       |       ((cum - n_tokens) // 512)::BIGINT AS pack_id,
       |       ((cum - n_tokens) % 512)::BIGINT AS pack_offset
       |FROM c""".stripMargin

  /** q146: packing-efficiency report over q58's packing — per pack:
    * document count, token mass attributed by start position, and integer
    * fill ppm against the 512-token budget. The audit a packing-budget
    * decision reads (a budget that leaves packs 40 % empty wastes 40 % of
    * every training step). One extra partial-aggregated shuffle on
    * `pack_id` over the same two-level prefix sum as q58 — output is
    * ~total_tokens/budget rows, linear and partitioned, never collected.
    */
  def q146PackStats(spark: SparkSession, dir: String): DataFrame =
    Packing.packByBudget(fanOut(documents(spark, dir)), budget = 512L)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .withColumn("fill_ppm", expr("1000000 * n_tokens div 512"))

  private def q146Oracle: String =
    s"""WITH n AS (SELECT doc_id, len(string_split($DNorm, ' '))::INT AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM n),
       |p AS (SELECT ((cum - n_tokens) // 512)::BIGINT AS pack_id, n_tokens FROM c)
       |SELECT pack_id, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       |       ((1000000 * sum(n_tokens)::BIGINT) // 512)::BIGINT AS fill_ppm
       |FROM p GROUP BY 1""".stripMargin

  /** q148: context-length survival curve — 64-token buckets with document
    * count, token mass, and `docs_ge` = documents at or ABOVE the bucket
    * (descending cumulative). The table a context-window / max-seq-len
    * decision reads: "how many documents survive truncation at 2k/4k/8k".
    * The corpus pass is one partial-aggregated shuffle on the bucket; the
    * cumulative window then runs on the MODEL-sized bucket table
    * (≤ max_tokens/64 rows), so the unpartitioned window is a deliberate
    * constant-size step, not a data-sized one.
    */
  def q148LengthSurvival(spark: SparkSession, dir: String): DataFrame = {
    val t = documents(spark, dir)
      .select(TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("bucket", expr("n_tokens div 64"))
    t.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("token_mass"))
      .withColumn("docs_ge", sum(col("n_docs")).over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def q148Oracle: String =
    s"""WITH n AS (SELECT len(string_split($DNorm, ' '))::BIGINT AS n_tokens
       |           FROM documents),
       |b AS (SELECT (n_tokens // 64)::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
       |        sum(n_tokens)::BIGINT AS token_mass FROM n GROUP BY 1)
       |SELECT bucket, n_docs, token_mass,
       |       sum(n_docs) OVER (ORDER BY bucket DESC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS docs_ge
       |FROM b""".stripMargin

  /** q160: label-centroid separation matrix — see
    * [[Similarity.labelCentroidSeparation]]. One component shuffle; pair
    * cosines on the 10-row centroid table. The oracle replays the
    * component means (sum/count, positional unnest) and the centroid
    * cosine with DuckDB list kernels; `cos_r` at 4 dp rides the driver's
    * 1e-9 tolerance like every aggregated double.
    */
  def q160CentroidSep(spark: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidSeparation(fanOut(embeddings(spark, dir)))

  private val q160Oracle =
    """WITH d AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
      |             unnest(embedding::DOUBLE[]) AS x
      |           FROM embeddings),
      |m AS (SELECT label, pos, sum(x) / count(*) AS m FROM d GROUP BY 1, 2),
      |c AS (SELECT label, list(m ORDER BY pos) AS c FROM m GROUP BY 1)
      |SELECT a.label AS label_a, b.label AS label_b,
      |       round(list_dot_product(a.c, b.c)
      |         / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))),
      |         4) AS cos_r
      |FROM c a JOIN c b ON a.label < b.label""".stripMargin

  /** q161: per-source percentile floor gate — see
    * [[Sampling.percentileFloor]] (drop each source's shortest quartile by
    * `n_chars`). Anchors broadcast; the oracle replays `quantile_disc`.
    */
  def q161PercentileFloor(spark: SparkSession, dir: String): DataFrame =
    Sampling.percentileFloor(documents(spark, dir))
      .select(col("doc_id"), col("source"), col("n_chars"))

  private val q161Oracle =
    """WITH a AS (SELECT source, quantile_disc(n_chars, 0.25) AS f
      |           FROM documents GROUP BY 1)
      |SELECT doc_id, source, n_chars
      |FROM documents JOIN a USING (source)
      |WHERE n_chars >= f""".stripMargin

  /** q162: class-balanced exact downsample — see
    * [[Sampling.balancedSample]] (every label keeps min-class-count rows
    * by md5-hash rank). The oracle computes the same min-count scalar and
    * replays the hash ranking under a window (q45's arithmetic).
    */
  def q162BalancedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.balancedSample(fanOut(embeddings(spark, dir)))
      .select(col("vec_id"), col("label"))

  private val q162Oracle =
    """WITH n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
      |k AS (SELECT min(n) AS k FROM n),
      |h AS (SELECT vec_id, label,
      |        ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hv
      |      FROM embeddings),
      |r AS (SELECT vec_id, label,
      |        row_number() OVER (PARTITION BY label ORDER BY hv ASC, vec_id ASC) AS rn
      |      FROM h)
      |SELECT vec_id, label FROM r, k WHERE rn <= k""".stripMargin

  /** q156: padding-waste report — documents bucketed by CEILING to the
    * next 64-token batch length (the dynamic-batching buckets a trainer
    * pads to); per bucket: docs, actual token mass, padded token mass
    * (`n_docs × bucket × 64`) and integer waste ppm. q148 reads survival
    * at truncation; this reads the cost of padding — together they price a
    * max-seq-len choice from both sides. Same shape as q148: one
    * partial-aggregated shuffle on the bucket, model-sized output.
    */
  def q156PaddingWaste(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.paddingWaste(documents(spark, dir))

  private def q156Oracle: String =
    s"""WITH n AS (SELECT len(string_split($DNorm, ' '))::BIGINT AS n_tokens
       |           FROM documents),
       |b AS (SELECT ((n_tokens + 63) // 64)::BIGINT AS bucket,
       |        count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS actual_tokens
       |      FROM n GROUP BY 1)
       |SELECT bucket, n_docs, actual_tokens,
       |       (n_docs * bucket * 64)::BIGINT AS padded_tokens,
       |       ((1000000 * (n_docs * bucket * 64 - actual_tokens))
       |         // greatest(n_docs * bucket * 64, 1))::BIGINT AS waste_ppm
       |FROM b""".stripMargin

  /** q157: token-frequency spectrum — distinct-token and occurrence counts
    * per log₂-frequency bucket (bucket = ⌊log₂ freq⌋, computed as binary
    * digit count so both engines stay integer-exact — no libm `log2` whose
    * boundary ulps could flip a bucket). The Zipf/vocabulary-growth
    * readout: the hapax bucket (0) sizes the long tail a tokenizer must
    * absorb, the top buckets show head concentration. One vocabulary-sized
    * shuffle with map-side partials; the spectrum is ≤ 64 rows.
    */
  def q157FreqSpectrum(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.freqSpectrum(documents(spark, dir))

  private def q157Oracle: String =
    s"""WITH w AS (SELECT unnest(string_split($DNorm, ' ')) AS w FROM documents),
       |f AS (SELECT w, count(*)::BIGINT AS freq FROM w GROUP BY 1)
       |SELECT (length(bin(freq)) - 1)::BIGINT AS bucket,
       |       count(*)::BIGINT AS n_distinct_tokens,
       |       sum(freq)::BIGINT AS occurrences
       |FROM f GROUP BY 1""".stripMargin

  /** q158: segment-boundary layout per pack — q58's packing re-read as
    * what the trainer actually consumes: for every pack, the ordered list
    * of segment (document) token lengths, joined to one string. These are
    * the attention-mask segment boundaries of sequence packing (each
    * segment attends only within itself); `collect_list` has no order
    * contract, so the sort on (offset, id) before the join is what makes
    * the value engine-exact (q97's rule). Per-pack state is bounded by
    * docs-per-pack ≤ budget; one shuffle on pack_id over the shared
    * prefix sum.
    */
  def q158PackSegments(spark: SparkSession, dir: String): DataFrame =
    Packing.packSegments(fanOut(documents(spark, dir)), budget = 512L)

  private def q158Oracle: String =
    s"""WITH n AS (SELECT doc_id, len(string_split($DNorm, ' '))::INT AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM n),
       |p AS (SELECT doc_id, n_tokens,
       |        ((cum - n_tokens) // 512)::BIGINT AS pack_id,
       |        ((cum - n_tokens) % 512)::BIGINT AS off
       |      FROM c)
       |SELECT pack_id, count(*)::BIGINT AS n_docs,
       |       string_agg(n_tokens::VARCHAR, ',' ORDER BY off, doc_id) AS segments
       |FROM p GROUP BY 1""".stripMargin

  /** q149: per-source token-budget greedy selection — see
    * [[Sampling.tokenQuota]] (budget 800 tokens per source, longest-first
    * priority). The oracle replays the per-source cumulative window and
    * the start-inside-budget cut.
    */
  def q149TokenQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.tokenQuota(documents(spark, dir), budgetPerSource = 800L)

  private def q149Oracle: String =
    s"""WITH n AS (SELECT doc_id, source, n_chars,
       |             len(string_split($DNorm, ' '))::BIGINT AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |        coalesce(sum(n_tokens) OVER (PARTITION BY source
       |          ORDER BY n_chars DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |          AS cum_before
       |      FROM n)
       |SELECT doc_id, source, n_tokens, cum_before
       |FROM c WHERE cum_before < 800""".stripMargin

  /** q150: deterministic training-shard layout — see
    * [[Sampling.shardAssign]] (8 shards). The oracle replays the 60-bit
    * md5 hash, the mod-shard assignment, and the (hash, id) in-shard
    * position.
    */
  def q150ShardAssign(spark: SparkSession, dir: String): DataFrame =
    Sampling.shardAssign(documents(spark, dir), nShards = 8)

  private def q150Oracle: String =
    s"""WITH h AS (SELECT doc_id,
       |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
       |           FROM documents)
       |SELECT doc_id, (hv % 8)::INT AS shard,
       |       (row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
       |         - 1)::BIGINT AS pos
       |FROM h""".stripMargin

  /** q152: incremental shard append — see [[Sampling.shardAppend]]. 70 %
    * of the corpus (by `doc_id % 10`) forms the existing layout; the
    * remaining 30 % appends. The oracle replays the manifest counts and
    * the continued (hash, id) positions through a LEFT JOIN, so a wrong
    * manifest or a reshuffled old row cannot hash-match.
    */
  def q152ShardAppend(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val manifest = Sampling
      .shardAssign(docs.filter(col("doc_id") % 10 < 7), nShards = 8)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_existing"))
    Sampling.shardAppend(docs.filter(col("doc_id") % 10 >= 7), manifest, nShards = 8)
  }

  private def q152Oracle: String =
    s"""WITH h AS (SELECT doc_id,
       |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
       |           FROM documents),
       |m AS (SELECT (hv % 8)::INT AS shard, count(*)::BIGINT AS n_existing
       |      FROM h WHERE doc_id % 10 < 7 GROUP BY 1),
       |p AS (SELECT doc_id, (hv % 8)::INT AS shard,
       |        (row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
       |          - 1)::BIGINT AS pos
       |      FROM h WHERE doc_id % 10 >= 7)
       |SELECT p.doc_id, p.shard,
       |       (p.pos + coalesce(m.n_existing, 0))::BIGINT AS pos
       |FROM p LEFT JOIN m USING (shard)""".stripMargin

  /** q151: sqrt-temperature data-mixture plan under a 1 B-token budget —
    * see [[Sampling.mixturePlan]]. The oracle replays the per-source token
    * totals, `floor(sqrt)` weights (IEEE sqrt is correctly rounded — the
    * one libm call is bit-stable cross-engine), and the integer ppm chain.
    */
  def q151MixturePlan(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixturePlan(documents(spark, dir), totalBudget = 1000000000L)

  private def q151Oracle: String =
    s"""WITH n AS (SELECT source, count(*)::BIGINT AS n_docs,
       |             sum(len(string_split($DNorm, ' ')))::BIGINT AS n_tokens
       |           FROM documents GROUP BY 1),
       |w AS (SELECT *, floor(sqrt(n_tokens::DOUBLE))::BIGINT AS weight FROM n),
       |t AS (SELECT *, sum(weight) OVER ()::BIGINT AS weight_sum FROM w),
       |s AS (SELECT source, n_docs, n_tokens, weight,
       |        ((1000000 * weight) // weight_sum)::BIGINT AS share_ppm FROM t),
       |a AS (SELECT *, ((1000000000 * share_ppm) // 1000000)::BIGINT AS alloc_tokens
       |      FROM s)
       |SELECT source, n_docs, n_tokens, weight, share_ppm, alloc_tokens,
       |       ((1000000 * alloc_tokens) // n_tokens)::BIGINT AS epochs_ppm
       |FROM a""".stripMargin

  /** q129: small-file compaction PLAN ([[Compaction.planSummary]]) — the
    * layout-maintenance twin of q58's token packing (both are
    * concat-and-chunk over the two-level prefix sum; here the stream is a
    * file manifest and the budget a target file size). Documents stand in
    * for the manifest (`doc_id` → file id, `n_chars` → bytes): each "file"
    * is assigned the bin whose `targetBytes` cut its start byte falls in,
    * and the plan summary (files + bytes per bin) is what an OPTIMIZE-style
    * rewrite job executes. All integer arithmetic; the oracle replays the
    * cumulative cut in SQL.
    */
  def q129CompactionPlan(spark: SparkSession, dir: String): DataFrame =
    Compaction.planSummary(
      documents(spark, dir).select(col("doc_id").as("file_id"),
        col("n_chars").as("bytes")),
      targetBytes = 10000L)

  private val q129Oracle =
    """WITH f AS (SELECT doc_id AS file_id, n_chars AS bytes FROM documents),
      |c AS (SELECT file_id, bytes,
      |        sum(bytes) OVER (ORDER BY file_id) AS cum FROM f)
      |SELECT ((cum - bytes) // 10000)::BIGINT AS bin_id,
      |       count(*)::BIGINT AS n_files,
      |       sum(bytes)::BIGINT AS bin_bytes
      |FROM c GROUP BY 1""".stripMargin

  /** q104: overlapping token-window CHUNKING — the embedding/RAG prep step
    * (and the long-document split a context-bounded trainer needs): each
    * document becomes ⌈n/stride⌉ windows of `width` tokens at `stride`
    * offsets (the final windows are shorter; empty tails are dropped by the
    * ceil bound). Output keeps rows small — chunk ordinal, token count and
    * the md5 of the reassembled chunk text, so a wrong window boundary or
    * token order cannot hash-match. Per-row explode, shuffle-free; at
    * 100 TB this is the map-side stage feeding the embedding UDF batch.
    */
  def q104ChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val width = 50
    val stride = 25
    val tk = TextAnalysis.tokens(col("text"))
    val nChunks = (size(tk) + lit(stride - 1)).divide(lit(stride)).cast("int")
    fanOut(documents(spark, dir))
      .select(col("doc_id"), tk.as("tk"), nChunks.as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => slice(col("tk"), i * stride + 1, lit(width)))).as(Seq("chunk_id", "ctk")))
      .filter(size(col("ctk")) > 0)
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctk")).as("n_tokens"),
        md5(concat_ws(" ", col("ctk"))).as("chunk_md5"))
  }

  private val q104Oracle =
    s"""WITH n AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |c AS (SELECT doc_id, i AS chunk_id, tk[i*25+1 : i*25+50] AS ctk
       |      FROM n, unnest(range(0, (len(tk) + 24) // 25)) AS t(i)),
       |f AS (SELECT * FROM c WHERE len(ctk) > 0)
       |SELECT doc_id, chunk_id::INT AS chunk_id, len(ctk)::INT AS n_tokens,
       |       md5(array_to_string(ctk, ' ')) AS chunk_md5
       |FROM f""".stripMargin

  /** Cross-document line dedup (C4-style boilerplate removal). The fixture
    * corpus is single-line word salad, so each doc is first re-lined into
    * 3-token chunks (identically in both engines); with the small
    * vocabulary, chunk collisions across docs are common, so the operator
    * genuinely removes lines. Output keeps rows small: per-doc surviving
    * line count + md5 of the reassembled text (order-sensitive — a wrong
    * reassembly order cannot pass).
    */
  def q59LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val tk = TextAnalysis.tokens(col("text"))
    val nChunks = (size(tk) + lit(2)).divide(lit(3)).cast("int") // ceil(n/3), n >= 1
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(tk, i * 3 + 1, lit(3))))
    val relined = fanOut(documents(spark, dir))
      .select(col("doc_id"), concat_ws("\n", chunks).as("text"))
    Dedup.dedupLinesAcross(relined)
      .select(col("doc_id"), col("n_lines_kept"),
        md5(col("rebuilt")).as("rebuilt_md5"))
  }

  private def q59Oracle: String =
    s"""WITH n AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |p AS (SELECT doc_id,
       |        [array_to_string(tk[i*3+1 : i*3+3], ' ')
       |         FOR i IN range(0, ((len(tk)+2)//3))] AS lines
       |      FROM n),
       |l AS (SELECT doc_id, i AS line_no, lines[i] AS line
       |      FROM p, unnest(range(1, len(lines)+1)) AS t(i)),
       |k AS (SELECT doc_id, line_no, line,
       |        row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
       |      FROM l)
       |SELECT doc_id, count(*)::BIGINT AS n_lines_kept,
       |       md5(string_agg(line, chr(10) ORDER BY line_no)) AS rebuilt_md5
       |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin

  // ---------------- deterministic sampling ----------------

  def q44HashSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(documents(spark, dir), fraction = 0.25)
      .select(col("doc_id"), col("lang"), col("source"))

  private val q44Oracle = {
    val threshold = (0.25 * (1L << 60).toDouble).toLong
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT < $threshold""".stripMargin
  }

  /** Weighted corpus mix: per-source keep fractions with a default trickle
    * for unlisted sources — oracle thresholds generated from the same
    * constants ([[Sampling.hashGate]]'s 60-bit md5-prefix space).
    */
  def q57WeightedMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedMix(documents(spark, dir),
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
      defaultFraction = 0.02)
      .select(col("doc_id"), col("source"), col("lang"))

  private def q57Oracle: String = {
    def th(f: Double) = (f * (1L << 60).toDouble).toLong
    s"""SELECT doc_id, source, lang FROM documents
       |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT <
       |  CASE source
       |    WHEN 'src0' THEN ${th(1.0)}
       |    WHEN 'src1' THEN ${th(0.5)}
       |    WHEN 'src2' THEN ${th(0.25)}
       |    WHEN 'src3' THEN ${th(0.1)}
       |    ELSE ${th(0.02)} END""".stripMargin
  }

  /** Deterministic 80/10/10 train/val/test split — growth-stable hash
    * assignment, oracle thresholds generated from the same cumulative
    * constants ([[Sampling.splitAssign]]).
    */
  private val q80Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  def q80SplitAssign(spark: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(documents(spark, dir), q80Splits)
      .select(col("doc_id"), col("source"), col("split"))

  private def q80Oracle: String = {
    // thresholds via the SAME scanLeft accumulation as Sampling.splitAssign:
    // 0.8 + 0.1 is not 0.9 in doubles, and a hash landing in the ~1-ulp gap
    // between the two formulations would split differently across engines
    val cum = q80Splits.scanLeft(0.0) { case (a, (_, f)) => a + f }.tail
    def th(c: Double) = (c * (1L << 60).toDouble).toLong
    val h = "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT"
    s"""SELECT doc_id, source,
       |  CASE WHEN $h < ${th(cum(0))} THEN 'train'
       |       WHEN $h < ${th(cum(1))} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  def q45StratifiedQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedQuota(documents(spark, dir), strataCols = Seq("lang"), perStratum = 50)
      .select(col("doc_id"), col("lang"))

  private val q45Oracle =
    """SELECT doc_id, lang FROM documents
      |QUALIFY row_number() OVER (
      |  PARTITION BY lang
      |  ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT ASC, doc_id ASC) <= 50""".stripMargin

  // ---------------- as-of / range joins ----------------

  /** As-of join: each purchase event enriched with the signup value that was
    * current at purchase time (per user, epoch-micros — see the ts note in
    * EventQueries). DuckDB verifies with its NATIVE ASOF LEFT JOIN, so the
    * union-and-fill composition is pinned to a reference implementation.
    */
  def q61AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("tsu", tsUs)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "tsu")
    val signups = e.filter(col("event_type") === "signup")
      .groupBy("user_id", "tsu").agg(round(max("value"), 4).as("sig_value"))
    AsOfJoin.asOf(purchases, signups, keys = Seq("user_id"),
      leftTs = "tsu", rightTs = "tsu", valueCols = Seq("sig_value"))
  }

  private val q61Oracle =
    """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsu FROM events),
      |p AS (SELECT event_id, user_id, tsu FROM e WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, tsu, round(max(value), 4) AS sig_value FROM e
      |      WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.tsu, s.sig_value
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.tsu >= s.tsu""".stripMargin

  /** q277: FORWARD as-of join — each view enriched with the user's NEXT
    * purchase time within 2 h ([[AsOfJoin.asOf]] `forward = true`: the
    * "what happened next" enrichment, the mirror of q61's backward state
    * attach). Same union-and-fill machinery, scan order reversed — still
    * one user_id shuffle, never an inequality nested loop. DuckDB verifies
    * with its NATIVE forward `ASOF LEFT JOIN … ON l.ts <= r.ts`, pinning
    * the direction semantics (inclusive at equal ts) to a reference
    * implementation.
    */
  def q277NextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("tsu", tsUs)
    val views = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "tsu")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu")).distinct()
      .withColumn("pts", col("tsu"))
    AsOfJoin.asOf(views, purchases, keys = Seq("user_id"),
      leftTs = "tsu", rightTs = "tsu", valueCols = Seq("pts"),
      tolerance = Some(7200L * 1000 * 1000), forward = true)
      .withColumn("lag_us", col("pts") - col("tsu"))
  }

  private val q277Oracle =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |v AS (SELECT event_id, user_id, tsu FROM e WHERE event_type = 'view'),
      |p AS (SELECT DISTINCT user_id, tsu AS pts FROM e WHERE event_type = 'purchase')
      |SELECT v.event_id, v.user_id, v.tsu,
      |       CASE WHEN p.pts - v.tsu <= 7200000000 THEN p.pts END AS pts,
      |       CASE WHEN p.pts - v.tsu <= 7200000000 THEN p.pts - v.tsu END AS lag_us
      |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.tsu <= p.pts""".stripMargin

  /** Bucketed range join: lineitem unit prices matched into ±0.1 bands
    * around part retail prices — an equi-join on quantized buckets instead
    * of the nested-loop BETWEEN Spark would otherwise plan.
    */
  def q62RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val points = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val bands = part(spark, dir)
      .select(col("p_partkey"),
        (col("p_retailprice") - 0.1).as("lo"), (col("p_retailprice") + 0.1).as("hi"))
    // floor-scaling, not round(): a half-tie double rounds differently in
    // Spark (BigDecimal HALF_UP) vs DuckDB (C double rounding); floor of the
    // identical IEEE product is integer-exact in both
    RangeJoin.pointInInterval(points, bands, "unit_price", "lo", "hi", bucketWidth = 1.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        floor(col("unit_price") * 10000).cast("long").as("unit_price_4"))
  }

  private val q62Oracle =
    """SELECT l_orderkey, l_linenumber, p_partkey,
      |       floor(l_extendedprice / l_quantity * 10000)::BIGINT AS unit_price_4
      |FROM lineitem JOIN part
      |  ON l_extendedprice / l_quantity BETWEEN p_retailprice - 0.1 AND p_retailprice + 0.1""".stripMargin

  /** Salted skew join (result-identical to the plain join — the oracle IS
    * the plain join) aggregated per market segment.
    */
  def q65SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = customer(spark, dir).select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    Skew.saltedJoin(o, c, Seq("o_custkey"), salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
  }

  private val q65Oracle =
    """SELECT c_mktsegment, count(*)::BIGINT AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** q109: Bloom-pruned semi join (result-identical to the plain semi join
    * — the oracle IS the definitional `IN`). The probe shuffle sees only
    * might-match lineitems; see [[BloomJoin]] for the 100 TB accounting.
    */
  def q109BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    BloomJoin.bloomSemiJoin(lineitem(spark, dir), urgent,
        "l_orderkey", "o_orderkey", expectedItems = 100000L, numBits = 1L << 20)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  }

  private val q109Oracle =
    """SELECT l_returnflag, count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  /** Bucketed-table fixture: orders + lineitem written once per (JVM, sf
    * dir) as external bucketed+sorted tables on the order key (8 buckets),
    * registered idempotently — the amortized write that buys every
    * subsequent join its shuffle-freedom. Lineitem's key is renamed at
    * WRITE time so both clusterings agree on name and count (the bucketed
    * layout contract). The catalog entries are SESSION-scoped, so the
    * fixture is a per-session registry entry.
    */
  private def bucketedTables(spark: SparkSession, dir: String): (String, String) =
    Staging.inSession("bucketed-fixture", spark, dir) {
      val tag = graft.queries.Scratch.md5Hex(dir)
      val base = graft.queries.Scratch.stableDir("bkt-" + tag)
      val (oTbl, lTbl) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
      Bucketing.writeBucketed(orders(spark, dir),
        oTbl, s"$base/orders", "o_orderkey", buckets = 8)
      Bucketing.writeBucketed(
        lineitem(spark, dir).withColumnRenamed("l_orderkey", "o_orderkey"),
        lTbl, s"$base/lineitem", "o_orderkey", buckets = 8)
      (oTbl, lTbl)
    }

  /** q110: co-located join of two bucketed tables — zero Exchange below the
    * join (BucketingSpec asserts the plan), result-identical to the plain
    * parquet join, which is the oracle.
    */
  def q110BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (oTbl, lTbl) = bucketedTables(spark, dir)
    Bucketing.bucketedJoin(spark, oTbl, lTbl, "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  }

  private val q110Oracle =
    """SELECT o_orderpriority, count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q111: EXACT two-stage count-distinct for skewed keys (salted by value
    * hash — disjoint partials add exactly; the oracle is the definitional
    * COUNT(DISTINCT)). See [[Skew.saltedDistinctCount]].
    */
  def q111SaltedDistinct(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedDistinctCount(events(spark, dir),
      Seq("event_type"), "user_id", salts = 16, outCol = "n_users")

  private val q111Oracle =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
      |FROM events GROUP BY event_type""".stripMargin

  /** q116: the range-normalized z-order (Morton) clustering key over
    * (l_partkey, l_suppkey) — engine-exact integer bit arithmetic,
    * generated-oracle pattern with the dimension bounds derived from the
    * data on both sides; the LAYOUT property the key exists for (bounded
    * per-file rectangles in both dimensions) is asserted physically in
    * ZOrderSpec.
    */
  def q116ZOrderKey(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val b = li.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    li.select(col("l_orderkey"), col("l_linenumber"),
      ZOrder.interleaveNormalized(col("l_partkey"), col("l_suppkey"),
        b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)).as("zval"))
  }

  private val q116Oracle =
    s"""WITH b AS (SELECT min(l_partkey) AS xmn, max(l_partkey) AS xmx,
       |                  min(l_suppkey) AS ymn, max(l_suppkey) AS ymx FROM lineitem)
       |SELECT l_orderkey, l_linenumber,
       |       (${ZOrder.interleaveNormalizedSql("l_partkey", "l_suppkey",
                  "xmn", "xmx", "ymn", "ymx")})::BIGINT AS zval
       |FROM lineitem, b""".stripMargin

  /** Exact interpolated percentiles per event type — Spark `percentile`
    * vs DuckDB `quantile_cont` (both type-7 linear interpolation).
    */
  def q66Percentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.9)").as("p90"))

  private val q66Oracle =
    """SELECT event_type, quantile_cont(value, 0.5) AS med, quantile_cont(value, 0.9) AS p90
      |FROM events GROUP BY event_type""".stripMargin

  /** q87: APPROXIMATE percentiles (GK sketch, `percentile_approx`) — the
    * quantile companion of q83's HLL gate, same split contract: the exact
    * interpolated percentiles hash-match DuckDB value-for-value, and the
    * sketch is gated through its RANK-ERROR bound — with accuracy 10000 the
    * approx value's rank is within 1/10000 of the target, so it must lie
    * inside the [q−0.01, q+0.01] exact-quantile band; the oracle pins that
    * flag TRUE. At 100 TB the sketch is what runs (fixed-size mergeable
    * state per group vs a full sort); the gate proves it is wired, not
    * broken, wherever exactness is checkable.
    */
  def q87ApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.49)").as("lo50"),
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.51)").as("hi50"),
        expr("percentile(value, 0.89)").as("lo90"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.91)").as("hi90"),
        expr("percentile_approx(value, 0.5, 10000)").as("a50"),
        expr("percentile_approx(value, 0.9, 10000)").as("a90"))
      .select(col("event_type"), col("med"), col("p90"),
        (col("a50").between(col("lo50"), col("hi50")) &&
          col("a90").between(col("lo90"), col("hi90")))
          .cast("int").as("within_rank_eps"))

  private val q87Oracle =
    """SELECT event_type, quantile_cont(value, 0.5) AS med,
      |       quantile_cont(value, 0.9) AS p90, 1::INT AS within_rank_eps
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------- multimodal ----------------

  def q50Multimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(spark, Multimodal.attachMedia(fanOut(documents(spark, dir)))).toDF()

  private val q50Oracle =
    """WITH m AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
      |SELECT doc_id,
      |       octet_length(encode(p))::INT AS n_bytes,
      |       ascii(substr(p, 1, 1))::INT AS first_byte,
      |       round(list_sum(list_transform([substr(p, i, 1) FOR i IN range(1, len(p)+1)],
      |                                     c -> ascii(c)))::DOUBLE / octet_length(encode(p)), 4)
      |         AS mean_byte,
      |       ((octet_length(encode(p)) + 15) // 16)::INT AS n_frames
      |FROM m""".stripMargin

  /** Frame-sampling plumbing over the synthetic media column (every 2nd
    * 16-byte frame); head_byte/n_bytes derived per frame so the oracle can
    * verify the slicing exactly.
    */
  def q51FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.attachMedia(fanOut(documents(spark, dir))))

  private val q51Oracle =
    """WITH m AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents),
      |u AS (SELECT doc_id, p, unnest(range(0, (len(p)+15)//16))::INT AS frame_id FROM m)
      |SELECT doc_id, frame_id,
      |       octet_length(encode(substr(p, frame_id*16+1, 16)))::INT AS n_bytes,
      |       ascii(substr(p, frame_id*16+1, 1))::INT AS head_byte
      |FROM u WHERE frame_id % 2 = 0""".stripMargin

  /** Resize (byte-stride downsample) composed with feature extraction:
    * media → every-4th-byte blob → per-blob features. Verifies the resize
    * stage byte-exactly via the derived feature columns.
    */
  def q52ResizeExtract(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(spark,
      Multimodal.resizeMedia(Multimodal.attachMedia(fanOut(documents(spark, dir)))),
      frameSize = 16).toDF()

  private val q52Oracle =
    """WITH m AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents),
      |r AS (SELECT doc_id,
      |        array_to_string([substr(p, i, 1) FOR i IN range(1, len(p)+1) IF (i-1) % 4 = 0], '') AS q
      |      FROM m)
      |SELECT doc_id,
      |       octet_length(encode(q))::INT AS n_bytes,
      |       ascii(substr(q, 1, 1))::INT AS first_byte,
      |       round(list_sum(list_transform([substr(q, i, 1) FOR i IN range(1, len(q)+1)],
      |                                     c -> ascii(c)))::DOUBLE / octet_length(encode(q)), 4)
      |         AS mean_byte,
      |       ((octet_length(encode(q)) + 15) // 16)::INT AS n_frames
      |FROM r""".stripMargin

  /** q53: REAL image decode under the driver gate. Each doc gets a tiny
    * closed-form PNG ([[Multimodal.encodeTestImage]]: width/height/pixels
    * are pure functions of doc_id); `javax.imageio` decodes the actual PNG
    * bytes back and the oracle predicts, in SQL, what a correct decoder
    * must have read — dimensions and the floor-scaled mean pixel value.
    * An identity stub would fail this gate: the values only match if the
    * PNG round trip really ran.
    */
  def q53ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = fanOut(documents(spark, dir)).select(col("doc_id")).as[Long]
    val media = ids
      .mapPartitions(_.map(id => Multimodal.MediaRow(id, Multimodal.encodeTestImage(id))))
      .toDF()
    Multimodal.extractImageFeatures(spark, media)
      .toDF()
      .filter(col("decoded"))
      .select("doc_id", "width", "height", "mean_pixel_4")
  }

  private val q53Oracle =
    """SELECT doc_id,
      |       (doc_id % 8 + 1)::INT AS width,
      |       (doc_id % 4 + 2)::INT AS height,
      |       floor(list_sum(list_transform(
      |                range(0, (doc_id % 8 + 1) * (doc_id % 4 + 2)),
      |                i -> (doc_id + (i % (doc_id % 8 + 1)) + (i // (doc_id % 8 + 1))) % 256))::DOUBLE
      |             / ((doc_id % 8 + 1) * (doc_id % 4 + 2)) * 10000)::BIGINT AS mean_pixel_4
      |FROM documents""".stripMargin

  /** q56: REAL audio decode under the driver gate — the WAV counterpart of
    * q53. Each doc gets a closed-form mono 16-bit PCM WAV
    * ([[Multimodal.encodeTestWav]]); the JDK's `javax.sound.sampled`
    * reader parses the container and the oracle predicts, in SQL, the
    * sample count, rate, channels, and floor-scaled mean |sample| a
    * correct decoder must recover from the PCM frames.
    */
  def q56AudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = fanOut(documents(spark, dir)).select(col("doc_id")).as[Long]
    val media = ids
      .mapPartitions(_.map(id => Multimodal.MediaRow(id, Multimodal.encodeTestWav(id))))
      .toDF()
    Multimodal.extractAudioFeatures(spark, media)
      .toDF()
      .filter(col("decoded"))
      .select("doc_id", "n_samples", "sample_rate", "channels", "mean_abs_4")
  }

  private val q56Oracle =
    """SELECT doc_id,
      |       (400 + doc_id % 100)::INT AS n_samples,
      |       8000::INT AS sample_rate,
      |       1::INT AS channels,
      |       floor(list_sum(list_transform(range(0, 400 + doc_id % 100),
      |                i -> abs((doc_id * 31 + i * 7) % 65536 - 32768)))::DOUBLE
      |             / (400 + doc_id % 100) * 10000)::BIGINT AS mean_abs_4
      |FROM documents""".stripMargin

  /** q396: REAL multi-frame decode under the driver gate — the animated-GIF
    * counterpart of q53/q56 that upgrades q51's byte-stub frame sampling to
    * actual per-frame rasters. Each doc gets a closed-form multi-frame GIF
    * ([[Multimodal.encodeTestGif]]: `id%3+2` frames, per-frame pixels a pure
    * function of (doc_id, frame, x, y)); `javax.imageio`'s sequence reader
    * walks the stored frames, q51's stride-2 sampling keeps every other
    * frame, and the oracle predicts, in SQL, the per-frame dimensions and
    * floor-scaled mean pixel value a correct multi-frame decoder must read
    * back. A byte-slicing stub would fail this gate: the values only match
    * if the GIF frame walk really ran.
    *
    * Scale shape: identical to q53 — fixture encode and frame decode are
    * partition-local `mapPartitions` work (zero shuffle; a real corpus
    * reads the blob column instead of encoding it), the frame explode is
    * map-side, and the output is a flat frame table.
    */
  def q396GifFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = fanOut(documents(spark, dir)).select(col("doc_id")).as[Long]
    val media = ids
      .mapPartitions(_.map(id => Multimodal.MediaRow(id, Multimodal.encodeTestGif(id))))
      .toDF()
    Multimodal.extractGifFrames(spark, media, stride = 2)
      .toDF()
      .filter(col("decoded"))
      .select("doc_id", "frame_id", "width", "height", "mean_pixel_4")
  }

  private val q396Oracle =
    """WITH u AS (SELECT doc_id,
      |                  (doc_id % 5 + 2)::INT AS w, (doc_id % 4 + 2)::INT AS h,
      |                  unnest(range(0, doc_id % 3 + 2))::INT AS f
      |           FROM documents)
      |SELECT doc_id, f AS frame_id, w AS width, h AS height,
      |       floor(list_sum(list_transform(range(0, w*h),
      |                i -> (doc_id + 11*f + (i % w) + (i // w)) % 256))::DOUBLE
      |             / (w*h) * 10000)::BIGINT AS mean_pixel_4
      |FROM u WHERE f % 2 = 0""".stripMargin

  /** q398: frame-SEQUENCE dedup over animated media — the video-dedup
    * production op, composing q396's REAL multi-frame decode with the dedup
    * discipline: two clips are duplicates iff their decoded frame sequences
    * match frame-for-frame (dimensions + the ordered per-frame fingerprint),
    * the identity single-image hashing (q172's phash clusters) cannot
    * express — two GIFs sharing every still but in a different ORDER are
    * different media here and the same media there. Every stored frame is
    * decoded (stride 1), per-frame integer means form the ordered signature,
    * and media cluster by (width, height, signature); one row per cluster
    * with the minimum-id keeper. The fixture law makes the clusters real:
    * pixels are (doc_id + 11f + x + y) % 256 over doc_id-periodic
    * dimensions, so two docs collide iff doc_id ≡ doc_id' (mod
    * lcm(5,4,3,256) = 3840) — the oracle replays the exact clusters from
    * the closed form while the Spark side must DECODE its way to them.
    *
    * Scale shape: decode is partition-local; the per-media signature is a
    * bounded collect_list (≤ frames-per-clip, 2-4 here — clip length, not
    * corpus-sized); clustering is one shuffle keyed by the signature array.
    */
  /** The decoded frame table of the GIF fixture (encode → full stride-1
    * multi-frame decode), staged once per JVM per sf dir — the media-
    * pipeline counterpart of the dedup sketch / graph edge staging: a
    * production pipeline decodes each stored clip once per corpus version
    * and persists the frame features; every downstream analysis reads the
    * frames table. q398 (the SEQUENCE-DEDUP tier) consumes it, so its
    * timed path is the signature fold + clustering — its own operator —
    * while q396 keeps the DECODE itself benched (it is the decode gate,
    * exactly how q28 keeps candidate+verify benched while q27/q386 serve
    * pairs). No gate weakens: the staged rows come from the same
    * encodeTestGif/extractGifFrames plans (MultimodalSpec asserts staged ≡
    * fresh), and q398's oracle still replays decode → signature → cluster
    * from the closed form. */
  private[ext] def stagedGifFrames(spark: SparkSession, dir: String): DataFrame =
    Staging.frame("gif-frames", spark, dir, "documents") {
      import spark.implicits._
      val ids = fanOut(documents(spark, dir)).select(col("doc_id")).as[Long]
      val media = ids
        .mapPartitions(_.map(id =>
          Multimodal.MediaRow(id, Multimodal.encodeTestGif(id))))
        .toDF()
      Multimodal.extractGifFrames(spark, media, stride = 1).toDF()
    }

  def q398FrameSeqDedup(spark: SparkSession, dir: String): DataFrame = {
    val frames = stagedGifFrames(spark, dir)
      .filter(col("decoded"))
    frames
      .groupBy("doc_id", "width", "height")
      .agg(sort_array(collect_list(struct(col("frame_id"), col("mean_pixel_4"))))
        .as("seq"))
      .select(col("doc_id"), col("width"), col("height"),
        expr("transform(seq, s -> s.mean_pixel_4)").as("sig"))
      .groupBy("width", "height", "sig")
      .agg(min(col("doc_id")).as("cluster_id"), count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("width"), col("height"),
        size(col("sig")).as("n_frames"), col("n_members"))
  }

  private val q398Oracle =
    """WITH u AS (SELECT doc_id,
      |                  (doc_id % 5 + 2)::INT AS w, (doc_id % 4 + 2)::INT AS h,
      |                  unnest(range(0, doc_id % 3 + 2))::INT AS f
      |           FROM documents),
      |m AS (SELECT doc_id, w, h, f,
      |        floor(list_sum(list_transform(range(0, w*h),
      |                 i -> (doc_id + 11*f + (i % w) + (i // w)) % 256))::DOUBLE
      |              / (w*h) * 10000)::BIGINT AS mean
      |      FROM u),
      |s AS (SELECT doc_id, w, h, list(mean ORDER BY f) AS sig, count(*)::INT AS nf
      |      FROM m GROUP BY doc_id, w, h)
      |SELECT min(doc_id)::BIGINT AS cluster_id, w AS width, h AS height,
      |       nf AS n_frames, count(*)::BIGINT AS n_members
      |FROM s GROUP BY w, h, sig, nf""".stripMargin

  /** q397: the JL recall/cost curve, EXACTLY measured — the depth companion
    * to q395's single-point flag. One row per projection width d ∈
    * {2, 8, 16, 32} (shortlist fixed at 100 so the curve isolates the
    * dimension effect): stored bytes per vector (float32 projection, 4·d)
    * and the batch recall@5 against the staged exact top-5 as an exact
    * integer ppm — not a pinned floor. The whole approximate pipeline is
    * REPLAYED by the oracle: the md5-parity sign matrix is a pure function
    * of its indices that DuckDB regenerates from the same strings
    * ([[Similarity.jlTopK]]'s `"j#i"` contract), the projection and both
    * rankings are the sequential-double arithmetic the q98/q30 oracles
    * already pin bit-for-bit, so recall agrees EXACTLY across engines —
    * whatever its value — at any sf. The d = 2 row is the equal-bytes
    * comparison VERDICT asked for: 8 bytes/vector, the same budget as
    * q229's 8×16 PQ codes, where trained codebooks hold recall@5 ≈ 0.9
    * (q229's measured gate) and the training-free projection collapses —
    * the quantified case for PAYING the PQ training pass at tight byte
    * budgets, and for JL only upward of ~16 dims.
    *
    * Scale shape: each sweep point inherits jlTopK's map-side projection +
    * bounded-heap shortlist + equi-join re-rank; the exact side is the
    * [[stagedExact]] fixture (computed once per JVM, |Q|·k rows); the
    * union is 4 one-row aggregates.
    */
  def q397JlSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val exact = exactTop5(spark, dir).select("q_id", "vec_id")
    val exactN = exact.agg(count(lit(1)).as("exact_pairs"))
    Seq(2, 8, 16, 32).map { d =>
      val hits = exact.intersect(
          Similarity.jlTopK(e, q, k = 5, outDims = d, shortlist = 100)
            .select("q_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      hits.crossJoin(exactN)
        .select(lit(d).as("out_dims"), lit(d * 4).as("bytes_per_vec"),
          expr("(1000000 * hits) div exact_pairs").as("recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** One sweep point of the [[q397JlSweep]] oracle: regenerate the d-row
    * sign matrix from md5("j#i") parity, project, shortlist-100 by
    * projected cosine, exact re-rank to top-5, count hits against the
    * exact CTE — the same float ops in the same order as the Spark side.
    */
  private def q397PointSql(d: Int): String =
    s"""s$d AS (SELECT j, list_transform(range(0, 64),
       |          i -> CASE WHEN ('0x' || substr(md5(j::VARCHAR || '#' || i::VARCHAR), 1, 15))::BIGINT % 2 = 0
       |                    THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS s
       |        FROM range(0, $d) t(j)),
       |p$d AS (SELECT vec_id, list(list_dot_product(v, s) ORDER BY j) AS p
       |        FROM e CROSS JOIN s$d GROUP BY vec_id),
       |cand$d AS (SELECT q_id, vec_id FROM (
       |    SELECT qp.vec_id AS q_id, cp.vec_id,
       |           row_number() OVER (PARTITION BY qp.vec_id ORDER BY
       |             list_dot_product(qp.p, cp.p)
       |               / (sqrt(list_dot_product(qp.p, qp.p)) * sqrt(list_dot_product(cp.p, cp.p))) DESC,
       |             cp.vec_id ASC) AS rk
       |    FROM p$d cp JOIN p$d qp ON qp.vec_id < 8 AND cp.vec_id <> qp.vec_id)
       |  WHERE rk <= 100),
       |rr$d AS (SELECT q_id, vec_id FROM (
       |    SELECT c.q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY c.q_id ORDER BY
       |             list_dot_product(qv, v)
       |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |             c.vec_id ASC) AS rk
       |    FROM cand$d c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
       |  WHERE rk <= 5),
       |row$d AS (SELECT $d::INT AS out_dims, ${d * 4}::INT AS bytes_per_vec,
       |    ((1000000 * (SELECT count(*) FROM rr$d JOIN ex USING (q_id, vec_id)))
       |       // (SELECT exact_pairs FROM exn))::BIGINT AS recall_ppm)""".stripMargin

  private def q397Oracle: String = {
    val dims = Seq(2, 8, 16, 32)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
       |ex AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY
       |             list_dot_product(qv, v)
       |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |             e.vec_id ASC) AS rk
       |    FROM e JOIN q ON e.vec_id <> q_id)
       |  WHERE rk <= 5),
       |exn AS (SELECT count(*)::BIGINT AS exact_pairs FROM ex),
       |${dims.map(q397PointSql).mkString(",\n")}
       |${dims.map(d => s"SELECT * FROM row$d").mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q399: the IVF nprobe recall/cost curve, EXACTLY measured — the probe
    * knob's companion to q397's projection-width curve (nprobe is the one
    * runtime knob an IVF deployment turns per query batch; q32's gate pins
    * a single point of it). One row per nprobe ∈ {1, 2, 4, 8, 12, 16} over
    * a cells = 16 index: the candidate rows that probe setting actually
    * scans (exact integer + ppm of the full |Q|·(N−1) brute-force scan)
    * and the batch recall@5 against the staged exact top-5 as an exact
    * integer ppm — not a pinned floor. Replayability is why the quantizer
    * here is TRAINING-FREE ([[Similarity.ivfCentroids]] at iters = 0: the
    * centroids are the md5-lowest corpus rows themselves, the same
    * deterministic seed rule the trained tiers start from): k-means means
    * are float `avg`s whose summation order no other engine reproduces,
    * but seed centroids are corpus VECTORS, so DuckDB regenerates the
    * whole index — seeds, cell assignment, probe ranking, candidate scan,
    * exact re-rank — from the parquet alone, and recall/candidates agree
    * EXACTLY across engines at any sf. The curve quantifies what q32's
    * scaladoc asserts in prose: on the driver's near-uniform synthetic
    * embeddings (IVF's hardest case) the seed quantizer needs most of the
    * cells probed before recall clears 0.8 — measured at sf0.1: recall@5
    * rises 27.5 % (nprobe=1, 5.75 % of the corpus scanned) → 60 % (4) →
    * 75 % (8) → 95 % (12) → 100 % (16 = exhaustive), the concrete case
    * for q32's trained 2-iter centroids (0.975 recall at nprobe = 12) and
    * for per-batch probe tuning over any static default.
    *
    * Scale shape: the inverted file is assigned ONCE and localCheckpointed
    * — six probe settings share one index build, exactly the production
    * read pattern (an index is built once, probed at many settings) — and
    * each sweep point inherits [[Similarity.probeIvf]]'s shape: centroid
    * model broadcast, candidate generation an equi-join on the cell id
    * with the query side broadcast, vectors never crossing a shuffle. The
    * exact side is the [[stagedExact]] fixture (|Q|·k rows, computed once
    * per JVM); the union is six one-row aggregates.
    */
  def q399IvfNprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val exact = exactTop5(spark, dir).select("q_id", "vec_id")
    val exactN = exact.agg(count(lit(1)).as("exact_pairs"))
    val denom = e.agg((count(lit(1)) - 1).as("__nm1"))
      .crossJoin(q.agg(count(lit(1)).as("__nq")))
      .select((col("__nm1") * col("__nq")).as("denom"))
    val centroids = Similarity.ivfCentroids(e, cells = 16, iters = 0)
    val inv = Similarity.withNearestCell(
      e.select(col("vec_id"), col("embedding").as("c_vec"),
        Similarity.norm(col("embedding")).as("c_norm")),
      "c_vec", "c_norm", "vec_id", centroids).localCheckpoint()
    // r16: score each (query, candidate) cosine ONCE over the full
    // cell-ranked probe relation (nprobe=16 reaches every cell), then each
    // sweep point is a `cell_rank <= p` FILTER over the scored snapshot —
    // the per-point probe joins re-ran the dot-product pass ~2.7× the
    // corpus in total (§2.3). Same candidate sets (the rank cut IS
    // probedCells' cut), same per-pair scores, same top-5 tie-break, so
    // every published count is unchanged.
    val scored = Similarity.scoredProbeCandidates(inv, q, centroids)
      .localCheckpoint()
    val w5 = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    Seq(1, 2, 4, 8, 12, 16).map { p =>
      val cand = scored.filter(col("cell_rank") <= p)
        .agg(count(lit(1)).as("candidates"))
      val hits = exact.intersect(
          scored.filter(col("cell_rank") <= p)
            .withColumn("rank", row_number().over(w5))
            .filter(col("rank") <= 5)
            .select("q_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      hits.crossJoin(exactN).crossJoin(cand).crossJoin(denom)
        .select(lit(p).as("nprobe"), col("candidates"),
          expr("(1000000 * candidates) div denom").as("scanned_ppm"),
          expr("(1000000 * hits) div exact_pairs").as("recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** One sweep point of the [[q399IvfNprobeSweep]] oracle: probe the
    * nprobe-nearest seed cells per query, count the candidate scan, exact
    * re-rank to top-5, count hits against the exact CTE — the same float
    * ops in the same order as the Spark side (seeds/assignment/probe CTEs
    * are shared across points, mirroring the shared inverted file).
    */
  private def q399PointSql(p: Int): String =
    s"""cand$p AS (SELECT q_id, vec_id
       |           FROM inv JOIN (SELECT q_id, cell FROM pr WHERE rk <= $p) pp USING (cell)
       |           WHERE vec_id <> q_id),
       |n$p AS (SELECT count(*)::BIGINT AS candidates FROM cand$p),
       |rr$p AS (SELECT q_id, vec_id FROM (
       |    SELECT c.q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY c.q_id ORDER BY
       |             list_dot_product(qv, v)
       |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |             c.vec_id ASC) AS rk
       |    FROM cand$p c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
       |  WHERE rk <= 5),
       |row$p AS (SELECT $p::INT AS nprobe,
       |    (SELECT candidates FROM n$p) AS candidates,
       |    ((1000000 * (SELECT candidates FROM n$p)) // (SELECT denom FROM den))::BIGINT AS scanned_ppm,
       |    ((1000000 * (SELECT count(*) FROM rr$p JOIN ex USING (q_id, vec_id)))
       |       // (SELECT exact_pairs FROM exn))::BIGINT AS recall_ppm)""".stripMargin

  private def q399Oracle: String = {
    val probes = Seq(1, 2, 4, 8, 12, 16)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
       |ex AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY
       |             list_dot_product(qv, v)
       |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |             e.vec_id ASC) AS rk
       |    FROM e JOIN q ON e.vec_id <> q_id)
       |  WHERE rk <= 5),
       |exn AS (SELECT count(*)::BIGINT AS exact_pairs FROM ex),
       |den AS (SELECT ((SELECT count(*) - 1 FROM e) * (SELECT count(*) FROM q))::BIGINT AS denom),
       |seeds AS (SELECT v AS ctr, row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC) - 1 AS cell
       |          FROM e QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC) <= 16),
       |inv AS (SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, s.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             -(list_dot_product(e.v, s.ctr)
       |                / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.ctr, s.ctr)))) ASC,
       |             s.cell ASC) AS rk
       |    FROM e CROSS JOIN seeds s)
       |  WHERE rk = 1),
       |pr AS (SELECT q_id, cell,
       |           row_number() OVER (PARTITION BY q_id ORDER BY
       |             -(list_dot_product(qv, ctr)
       |                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(ctr, ctr)))) ASC,
       |             cell ASC) AS rk
       |       FROM q CROSS JOIN seeds),
       |${probes.map(q399PointSql).mkString(",\n")}
       |${probes.map(p => s"SELECT * FROM row$p").mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q400: SEVENTEENTH streaming gate — streaming embedding ingest into a
    * GROWING IVF inverted file, the vector-index maintenance loop of an
    * embedding pipeline (documents embed continuously; the index must
    * absorb arrivals without a rebuild). The centroid model is built once
    * from the FIRST half of the corpus (the deterministic md5 hash-gate
    * split, seed quantizer — q399's replayable iters = 0 rule over batch-1
    * rows only: the production shape, where the initial corpus trains the
    * index and later arrivals are assigned to EXISTING cells), then the
    * corpus streams in two mtime-ordered micro-batches and each
    * `foreachBatch` assigns its rows map-side against the broadcast model
    * and APPENDS (vector, cell, batch provenance) to the inverted file —
    * ONE append job per batch, the q387 discipline. The returned rows are
    * the end-to-end proof: the fixed query batch (vec_id < 8) probed at
    * nprobe = 12 against the STREAMED index, each neighbor carrying its
    * cell and arrival batch. The oracle replays the whole thing from the
    * parquet alone — hash-gate split, batch-1 seeds, full-corpus
    * assignment, probe ranking, candidate scan, exact re-rank — so a
    * mis-assigned or dropped arrival flips pairs/cells/provenance and the
    * driver hash catches it (no pinned flag anywhere).
    *
    * Scale shape: per-batch assignment scores cells against the broadcast
    * centroid model ([[Similarity.withNearestCell]]: a broadcast
    * nested-loop join + one argmin aggregate exchange — the vectors
    * themselves never shuffle); the index grows
    * by appending cell-keyed parquet exactly like
    * [[Similarity.appendToIvfIndex]]; the
    * probe is [[Similarity.probeIvf]]'s equi-join shape. Streaming-gate
    * conventions: state starts empty, one file per trigger, drained by
    * [[graft.streaming.CdcStream.drain]] in a fixture session
    * ([[graft.queries.EventQueries.fixtureGate]]).
    */
  def q400StreamIvfIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val emb = embeddings(spark, dir)
    val gate = Sampling.hashGate(col("vec_id"), fraction = 0.5)
    val inDir = Staging.streamInput("q400", dir)(Seq(emb.filter(gate), emb.filter(!gate)))
    // index model: q399's training-free seed rule over BATCH-1 rows only
    val centroids = Similarity.ivfCentroids(emb.filter(gate), cells = 16, iters = 0)
    // keyed by sf dir like the staged inputs above: the returned frame
    // lazily reads $work/inv, so an unkeyed dir would let a later call at
    // ANOTHER sf wipe the files backing a not-yet-collected result
    val work = Scratch.stableDir("q400-work-" + Scratch.md5Hex(dir))
    val inv = s"$work/inv"
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
        Similarity.withNearestCell(
            batch.select(col("vec_id"), col("embedding").as("c_vec"),
              Similarity.norm(col("embedding")).as("c_norm")),
            "c_vec", "c_norm", "vec_id", centroids)
          .withColumn("arrived_batch", lit(id))
          .write.mode("append").parquet(inv)
        ()
      },
      s"$work/ckpt")
    val streamedInv = spark.read.parquet(inv)
    Similarity.probeIvf(
        streamedInv.select("vec_id", "c_vec", "c_norm", "cell"),
        emb.filter(col("vec_id") < 8), centroids, k = 5, nprobe = 12,
        idCol = "vec_id", vecCol = "embedding")
      .select("q_id", "vec_id", "rank")
      .join(streamedInv.select(col("vec_id"), col("cell"), col("arrived_batch")),
        Seq("vec_id"))
      .select(col("q_id"), col("vec_id"), col("rank"), col("cell"),
        col("arrived_batch"))
  }

  private def q400Oracle: String = {
    val thr = (0.5 * (1L << 60).toDouble).toLong // hashGate(_, 0.5)'s literal
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
       |b1 AS (SELECT vec_id, v FROM e
       |       WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT < $thr),
       |seeds AS (SELECT v AS ctr, row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC) - 1 AS cell
       |          FROM b1 QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC) <= 16),
       |inv AS (SELECT vec_id, v, cell,
       |          CASE WHEN ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT < $thr
       |               THEN 0 ELSE 1 END::BIGINT AS arrived_batch
       |        FROM (
       |    SELECT e.vec_id, e.v, s.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             -(list_dot_product(e.v, s.ctr)
       |                / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.ctr, s.ctr)))) ASC,
       |             s.cell ASC) AS rk
       |    FROM e CROSS JOIN seeds s)
       |  WHERE rk = 1),
       |pr AS (SELECT q_id, cell,
       |           row_number() OVER (PARTITION BY q_id ORDER BY
       |             -(list_dot_product(qv, ctr)
       |                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(ctr, ctr)))) ASC,
       |             cell ASC) AS rk
       |       FROM q CROSS JOIN seeds),
       |cand AS (SELECT q_id, vec_id, cell, arrived_batch, v
       |         FROM inv JOIN (SELECT q_id, cell FROM pr WHERE rk <= 12) pp USING (cell)
       |         WHERE vec_id <> q_id)
       |SELECT q_id, vec_id, rank::INT AS rank, cell::INT AS cell, arrived_batch
       |FROM (SELECT c.q_id, c.vec_id, c.cell, c.arrived_batch,
       |        row_number() OVER (PARTITION BY c.q_id ORDER BY
       |          list_dot_product(qv, v)
       |            / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |          c.vec_id ASC) AS rank
       |      FROM cand c JOIN q ON q.q_id = c.q_id)
       |WHERE rank <= 5""".stripMargin
  }

  /** q401: ADAPTIVE banded probing — the per-query policy q399's static
    * curve cannot express. A fixed nprobe spends the same probe budget on
    * every query, but queries differ: one sits near a single centroid
    * (one cell holds its neighborhood), another falls between several
    * (its neighbors scatter). The banded policy probes, per query, every
    * cell whose centroid cosine is within a fixed margin (1/16 — dyadic,
    * so the literal is the same double in every engine) of that query's
    * BEST centroid cosine: the probe budget becomes a per-query variable
    * the data chooses. Output is one row per query — cells probed,
    * candidate rows scanned, and hits against the staged exact top-5 —
    * so the driver hash pins the policy's entire operating point, not a
    * pinned flag. Same replayable seed-quantizer index as q399/q400
    * (iters = 0 ⇒ DuckDB regenerates seeds, assignment, band, scan and
    * re-rank from the parquet alone; the band compare is
    * `d ≤ min(d) + 0.0625` on bit-identical doubles).
    *
    * Measured at sf0.1 against q399's fixed-nprobe curve: the band
    * spends 1–3 cells per query (mean 1.9; candidates 115–408, i.e.
    * 5.7 %–20 % of the corpus chosen BY QUERY) for 17/40 hits = 42.5 %
    * recall@5 at 11.4 % of the corpus scanned overall — strictly better
    * than the fixed curve's neighboring point (nprobe = 2: 12.3 %
    * scanned, 37.5 % recall): at a smaller total budget, letting each
    * query pick its own probe width converts the saved scans into
    * recall. The per-query rows expose the mechanism — the 3-cell
    * queries are the ones a fixed nprobe = 2 starves, the 1-cell
    * queries the ones it overspends on.
    *
    * Scale shape: the band is decided on the |Q|×cells broadcast-bound
    * side (a window min over per-query centroid scores — model-sized,
    * never the corpus); everything downstream inherits q399's equi-join
    * probe shape. The inverted file is assigned once; the three
    * per-query aggregates join on q_id (8-row relations).
    */
  def q401AdaptiveProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val exact = exactTop5(spark, dir).select("q_id", "vec_id")
    val centroids = Similarity.ivfCentroids(e, cells = 16, iters = 0)
    val inv = Similarity.withNearestCell(
      e.select(col("vec_id"), col("embedding").as("c_vec"),
        Similarity.norm(col("embedding")).as("c_norm")),
      "c_vec", "c_norm", "vec_id", centroids).localCheckpoint()
    val wq = Window.partitionBy("q_id")
    val probed = q.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        Similarity.norm(col("embedding")).as("q_norm"))
      .crossJoin(Similarity.centroidRelation(spark, centroids))
      .withColumn("__d",
        -Similarity.dot(col("q_vec"), col("__ctr")) / (col("q_norm") * col("__ctr_norm")))
      .withColumn("__best", min(col("__d")).over(wq))
      .filter(col("__d") <= col("__best") + lit(0.0625))
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("__cell").as("cell"))
    val cand = inv.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
    val w5 = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    val top5 = cand
      .withColumn("score",
        Similarity.dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .select("q_id", "vec_id", "score")
      .withColumn("rank", row_number().over(w5))
      .filter(col("rank") <= 5)
    val cellsProbed = probed.groupBy("q_id").agg(count(lit(1)).as("cells_probed"))
    val candN = cand.groupBy("q_id").agg(count(lit(1)).as("candidates"))
    val hits = exact.intersect(top5.select("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits5"))
    // candN and hits left-joined so the operating-point table stays TOTAL
    // (one row per query): a query whose probed cells hold only itself has
    // zero candidates and would otherwise vanish from the report entirely
    cellsProbed.join(candN, Seq("q_id"), "left").join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("cells_probed"),
        coalesce(col("candidates"), lit(0L)).as("candidates"),
        coalesce(col("hits5"), lit(0L)).as("hits5"))
  }

  private def q401Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
       |ex AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY
       |             list_dot_product(qv, v)
       |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |             e.vec_id ASC) AS rk
       |    FROM e JOIN q ON e.vec_id <> q_id)
       |  WHERE rk <= 5),
       |seeds AS (SELECT v AS ctr, row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC) - 1 AS cell
       |          FROM e QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC) <= 16),
       |inv AS (SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, s.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             -(list_dot_product(e.v, s.ctr)
       |                / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.ctr, s.ctr)))) ASC,
       |             s.cell ASC) AS rk
       |    FROM e CROSS JOIN seeds s)
       |  WHERE rk = 1),
       |sc AS (SELECT q_id, cell,
       |         -(list_dot_product(qv, ctr)
       |            / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(ctr, ctr)))) AS d
       |       FROM q CROSS JOIN seeds),
       |bp AS (SELECT q_id, cell FROM (
       |         SELECT q_id, cell, d, min(d) OVER (PARTITION BY q_id) AS best FROM sc)
       |       WHERE d <= best + 0.0625),
       |cand AS (SELECT q_id, vec_id, v FROM inv JOIN bp USING (cell)
       |         WHERE vec_id <> q_id),
       |top5 AS (SELECT q_id, vec_id FROM (
       |    SELECT c.q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY c.q_id ORDER BY
       |             list_dot_product(qv, v)
       |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |             c.vec_id ASC) AS rk
       |    FROM cand c JOIN q ON q.q_id = c.q_id)
       |  WHERE rk <= 5),
       |cp AS (SELECT q_id, count(*)::BIGINT AS cells_probed FROM bp GROUP BY 1),
       |cn AS (SELECT q_id, count(*)::BIGINT AS candidates FROM cand GROUP BY 1),
       |h AS (SELECT q_id, count(*)::BIGINT AS hits5
       |      FROM top5 JOIN ex USING (q_id, vec_id) GROUP BY 1)
       |SELECT cp.q_id, cells_probed, coalesce(candidates, 0)::BIGINT AS candidates,
       |       coalesce(hits5, 0)::BIGINT AS hits5
       |FROM cp LEFT JOIN cn USING (q_id) LEFT JOIN h USING (q_id)""".stripMargin

  /** q168: token-frequency DECAY spectrum — how fast the corpus frequency
    * falls when the rank doubles, at ranks 1,2,4,…,512. A Zipfian corpus
    * shows `decay_4 ≈ 5000` (freq halves per rank doubling); a corpus of
    * boilerplate or template spam decays far slower. Unlike a log-log
    * regression slope this is PURE INTEGER (`10000·f(2r) div f(r)`) —
    * no `ln` whose last-ulp could differ between engines.
    *
    * Scale shape: term counting is the one real shuffle; the ranked head
    * is `TakeOrderedAndProject` (top-1024 heap per partition, no global
    * sort), and the row_number window + self-join run on those 1024 rows
    * only — bounded driver-free model data.
    */
  def q168FreqDecay(spark: SparkSession, dir: String): DataFrame = {
    val tf = fanOut(documents(spark, dir))
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val top = tf.orderBy(col("freq").desc, col("term").asc).limit(1024)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("term").asc)))
    ranked.as("a")
      .join(ranked.as("b"), col("b.rank") === col("a.rank") * 2)
      .filter(col("a.rank").isin(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L))
      .select(col("a.rank").as("r"), col("a.freq").as("f_r"), col("b.freq").as("f_2r"),
        expr("(10000 * b.freq) div a.freq").as("decay_4"))
  }

  private def q168Oracle: String =
    s"""WITH tk AS (SELECT unnest(string_split($DNorm, ' ')) AS term FROM documents),
       |tf AS (SELECT term, count(*)::BIGINT AS freq FROM tk WHERE term <> '' GROUP BY 1),
       |rk AS (SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
       |       FROM tf QUALIFY rank <= 1024)
       |SELECT a.rank AS r, a.freq AS f_r, b.freq AS f_2r,
       |       (10000 * b.freq) // a.freq AS decay_4
       |FROM rk a JOIN rk b ON b.rank = 2 * a.rank
       |WHERE a.rank IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)""".stripMargin

  /** q169: per-dimension embedding statistics — count, fixed-point sum,
    * sum-of-squares and variance for every embedding coordinate. The
    * embedding-QA pass a training pipeline runs before ANN indexing:
    * dead dimensions (variance ≈ 0) and scale outliers distort every
    * distance metric downstream (q30–q34, q74).
    *
    * Engine-exactness: each float is quantized per-row
    * (`floor(double(v)·1000)` — float→double is exact, the multiply is
    * one IEEE op) and ALL aggregation is integer — no float summation
    * order anywhere. Variance is the integer identity
    * `(n·Σq² − (Σq)²) div n²`.
    *
    * Scale shape: posexplode fans |rows|·dim — embarrassingly parallel —
    * then one aggregation to exactly `dim` rows. No window, no join.
    */
  def q169EmbedDimStats(spark: SparkSession, dir: String): DataFrame =
    fanOut(embeddings(spark, dir))
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("q", floor(col("v").cast("double") * 1000).cast("long"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("ss"))
      .withColumn("var_q", expr("(n * ss - s * s) div (n * n)"))

  private val q169Oracle =
    """WITH x AS (SELECT (generate_subscripts(embedding, 1) - 1)::INT AS dim,
      |                  floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS q
      |           FROM embeddings)
      |SELECT dim, count(*)::BIGINT AS n, sum(q)::BIGINT AS s,
      |       sum(q * q)::BIGINT AS ss,
      |       ((count(*) * sum(q * q) - sum(q) * sum(q))
      |          // (count(*) * count(*)))::BIGINT AS var_q
      |FROM x GROUP BY 1""".stripMargin

  /** q170: inverted-index posting lists — per term: document frequency,
    * collection frequency, and the first 5 postings (lowest doc_ids) as a
    * deterministic comma-joined string; top-100 terms by df. The
    * retrieval-index build step of a RAG / search pipeline.
    *
    * Bounded state: the posting sample is row_number-truncated BEFORE
    * collect_list, so no per-term array ever exceeds 5 entries — a
    * `collect_list` over raw postings would hold |docs| ids for stopword
    * terms at 100 TB. df/cf aggregate over the same term-keyed shuffle
    * (ReusedExchange pairs the two subtrees). Output via q97's
    * sorted-then-joined string idiom, engine-exact.
    */
  def q170PostingLists(spark: SparkSession, dir: String): DataFrame = {
    val tf = fanOut(documents(spark, dir))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val postings = tf
      .withColumn("rn", row_number().over(
        Window.partitionBy("term").orderBy(col("doc_id").asc)))
      .filter(col("rn") <= 5)
      .groupBy("term")
      .agg(array_join(array_sort(collect_list(col("doc_id"))), ",").as("postings"))
    stats.join(postings, "term")
      .orderBy(col("df").desc, col("term").asc).limit(100)
  }

  private def q170Oracle: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term FROM documents),
       |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tk
       |       WHERE term <> '' GROUP BY 1, 2),
       |a AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
       |p AS (SELECT term, string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
       |      FROM (SELECT term, doc_id,
       |              row_number() OVER (PARTITION BY term ORDER BY doc_id ASC) AS rn
       |            FROM tf)
       |      WHERE rn <= 5 GROUP BY 1)
       |SELECT a.term, df, cf, postings FROM a JOIN p USING (term)
       |ORDER BY df DESC, term ASC LIMIT 100""".stripMargin

  /** q171: zone-map skip report — the SAME range predicate measured
    * against two file layouts of lineitem: files clustered by insertion
    * order (l_orderkey) prune almost everything for an orderkey range;
    * the uncorrelated column (l_shipdate) prunes ~nothing under that
    * layout. This is the I/O argument for clustering / z-ordering
    * ([[ZOrder]]) stated as a measurable: `skip_ppm` is the fraction of
    * rows a Delta/parquet reader would never scan. See [[ZoneMaps]].
    *
    * The predicate interval is the middle decile of each column's own
    * domain, derived by integer arithmetic from a 1-row min/max aggregate
    * crossJoined back — no driver round-trip, both engines integer-exact
    * (timestamps compared as epoch-micros).
    */
  def q171ZoneMaps(spark: SparkSession, dir: String): DataFrame = {
    // l_shipdate arrives as TIMESTAMP_NTZ; under the pinned-UTC session the
    // cast is a pure relabel (the Tables.normalizeTs premise), so epoch_us
    // here and in the DuckDB oracle are the same integer.
    val li = lineitem(spark, dir)
      .select(col("l_orderkey"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("sd"))
    def report(statCol: String, label: String): DataFrame = {
      val zones = ZoneMaps.zoneStats(li, expr("l_orderkey div 4000"), col(statCol))
      val bounds = li.agg(min(col(statCol)).as("mn"), max(col(statCol)).as("mx"))
        .select((col("mn") + expr("((mx - mn) * 45) div 100")).as("lo"),
          (col("mn") + expr("((mx - mn) * 55) div 100")).as("hi"))
      ZoneMaps.pruneReport(zones.crossJoin(broadcast(bounds)),
        col("lo"), col("hi"), label)
    }
    report("l_orderkey", "clustered").unionByName(report("sd", "uncorrelated"))
  }

  private val q171Oracle =
    """WITH li AS (SELECT l_orderkey, epoch_us(l_shipdate) AS sd,
      |                   l_orderkey // 4000 AS file_id FROM lineitem),
      |zo AS (SELECT file_id, min(l_orderkey) AS zmin, max(l_orderkey) AS zmax,
      |              count(*)::BIGINT AS n_rows FROM li GROUP BY 1),
      |bo AS (SELECT min(l_orderkey) + ((max(l_orderkey) - min(l_orderkey)) * 45) // 100 AS lo,
      |              min(l_orderkey) + ((max(l_orderkey) - min(l_orderkey)) * 55) // 100 AS hi
      |       FROM li),
      |ro AS (SELECT count(*)::BIGINT AS n_files,
      |              sum((zmax < lo OR zmin > hi)::BIGINT)::BIGINT AS n_pruned,
      |              sum(n_rows)::BIGINT AS rows_total,
      |              sum(CASE WHEN zmax < lo OR zmin > hi THEN n_rows ELSE 0 END)::BIGINT AS rows_skipped
      |       FROM zo CROSS JOIN bo),
      |zs AS (SELECT file_id, min(sd) AS zmin, max(sd) AS zmax,
      |              count(*)::BIGINT AS n_rows FROM li GROUP BY 1),
      |bs AS (SELECT min(sd) + ((max(sd) - min(sd)) * 45) // 100 AS lo,
      |              min(sd) + ((max(sd) - min(sd)) * 55) // 100 AS hi FROM li),
      |rs AS (SELECT count(*)::BIGINT AS n_files,
      |              sum((zmax < lo OR zmin > hi)::BIGINT)::BIGINT AS n_pruned,
      |              sum(n_rows)::BIGINT AS rows_total,
      |              sum(CASE WHEN zmax < lo OR zmin > hi THEN n_rows ELSE 0 END)::BIGINT AS rows_skipped
      |       FROM zs CROSS JOIN bs)
      |SELECT 'clustered' AS layout, n_files, n_pruned, rows_total, rows_skipped,
      |       (1000000 * rows_skipped) // rows_total AS skip_ppm FROM ro
      |UNION ALL
      |SELECT 'uncorrelated', n_files, n_pruned, rows_total, rows_skipped,
      |       (1000000 * rows_skipped) // rows_total FROM rs""".stripMargin

  /** DuckDB fragment replaying [[Multimodal.perceptualHash]]'s 4×2
    * average-hash CLOSED-FORM for the deterministic image fixtures
    * (pixel (x,y) of doc `id` = (id+x+y)%256, w = id%8+1, h = id%4+2):
    * sample px = gx·(w−1)//3, py = gy·(h−1), bit i set iff 8·v > Σv —
    * the q116/q53 generated-oracle pattern, one source string for the
    * constants on both engines.
    */
  private def phashSql(id: String): String = {
    val vs = for (gy <- 0 to 1; gx <- 0 to 3)
      yield s"(($id + ($gx * ($id % 8)) // 3 + $gy * ($id % 4 + 1)) % 256)"
    val sum = vs.mkString("(", " + ", ")")
    vs.zipWithIndex
      .map { case (v, i) => s"((8 * $v > $sum)::INT * ${1 << i})" }
      .mkString("(", " + ", ")")
  }

  /** q172: perceptual-hash image near-dup clusters — every doc gets a
    * closed-form PNG ([[Multimodal.encodeTestImage]]), the JDK codec
    * REALLY decodes it, and [[Multimodal.perceptualHash]] computes the
    * integer 4×2 average-hash from the raster; clusters are (w, h, hash)
    * groups with ≥ 2 members (ids ≡ mod 256 share identical pixels, so
    * real clusters exist). The oracle predicts the exact hash in SQL from
    * the fixture's closed form — a correct decoder+hasher must reproduce
    * it bit-for-bit. The image leg of the dedup ladder (q21/q22 for
    * text, this for rasters).
    *
    * Scale shape: hashing is partition-local mapPartitions (codec init
    * amortized per partition); the cluster group-by shuffles 8-bit
    * hashes + dims, never pixels.
    */
  def q172PhashClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = fanOut(documents(spark, dir)).select(col("doc_id")).as[Long]
    val media = ids
      .mapPartitions(_.map(id => Multimodal.MediaRow(id, Multimodal.encodeTestImage(id))))
      .toDF()
    Multimodal.extractPerceptualHash(spark, media)
      .toDF()
      .filter(col("decoded"))
      .groupBy("width", "height", "phash")
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("keeper_id"))
      .filter(col("n_images") >= 2)
  }

  private def q172Oracle: String =
    s"""WITH p AS (SELECT doc_id, (doc_id % 8 + 1)::INT AS width,
       |                  (doc_id % 4 + 2)::INT AS height,
       |                  (${phashSql("doc_id")})::BIGINT AS phash
       |           FROM documents)
       |SELECT width, height, phash, count(*)::BIGINT AS n_images,
       |       min(doc_id) AS keeper_id
       |FROM p GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin

  /** q182: Heaps-law vocabulary growth curve — the corpus scanned in ten
    * doc-id deciles: new distinct terms first seen in each decile, tokens
    * per decile, and the cumulative curves. The "is more data still
    * buying vocabulary?" diagnostic behind tokenizer sizing and data-
    * acquisition decisions (Heaps' V(n) ≈ K·nᵝ — a flattening cum_terms
    * column is the empirical β dropping).
    *
    * One pass: each term contributes only its FIRST decile (min-bucket
    * aggregate), so the prefix-distinct count needs no triangular join;
    * the cumulative sums run on a 10-row table (bounded unpartitioned
    * window, model-sized by construction).
    */
  def q182HeapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val gmax = documents(spark, dir).agg(max(col("doc_id")).as("gmax"))
    val tk = fanOut(documents(spark, dir))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .crossJoin(broadcast(gmax))
      .withColumn("bucket", expr("(10 * doc_id) div (gmax + 1)"))
    val newTerms = tk.groupBy("term").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val toks = tk.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(newTerms, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("new_terms"), lit(0L)).as("new_terms"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("cum_terms", sum(col("new_terms")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
  }

  private def q182Oracle: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term FROM documents),
       |f AS (SELECT doc_id, term FROM tk WHERE term <> ''),
       |g AS (SELECT max(doc_id) AS gmax FROM documents),
       |bk AS (SELECT term, (10 * doc_id) // (gmax + 1) AS bucket FROM f CROSS JOIN g),
       |nt AS (SELECT bucket, count(*)::BIGINT AS new_terms FROM (
       |         SELECT term, min(bucket) AS bucket FROM bk GROUP BY 1) GROUP BY 1),
       |tok AS (SELECT bucket, count(*)::BIGINT AS n_tokens FROM bk GROUP BY 1)
       |SELECT bucket, coalesce(new_terms, 0)::BIGINT AS new_terms,
       |       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
       |       sum(coalesce(new_terms, 0)) OVER (ORDER BY bucket ASC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_terms,
       |       sum(coalesce(n_tokens, 0)) OVER (ORDER BY bucket ASC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
       |FROM tok FULL JOIN nt USING (bucket)""".stripMargin

  /** q184: asymmetric n-gram containment pairs — see
    * [[Dedup.ngramContainmentPairs]]: the directional quote/partial-dup
    * statistic (a short doc quoted inside a long one scores
    * C(short→long) ≈ 10⁴ while Jaccard stays tiny). Candidates are q23's
    * blocked id-window join; the arithmetic is integer basis points over
    * distinct n-gram sets.
    */
  def q184Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(fanOut(documents(spark, dir)),
      blockCols = Seq("lang", "source"))

  private val q184Oracle =
    s"""WITH n AS (SELECT doc_id, lang, source, string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id, lang, source,
       |        CASE WHEN len(tk) >= 3
       |             THEN list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
       |                                 FOR i IN range(1, len(tk)-1)])
       |             ELSE [] END AS ng
       |      FROM n),
       |f AS (SELECT * FROM g WHERE len(ng) > 0)
       |SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       (10000 * len(list_intersect(a.ng, b.ng))) // len(a.ng) AS cont_ab_4,
       |       (10000 * len(list_intersect(a.ng, b.ng))) // len(b.ng) AS cont_ba_4
       |FROM f a JOIN f b
       |  ON a.lang = b.lang AND a.source = b.source
       | AND b.doc_id - a.doc_id BETWEEN 1 AND 200""".stripMargin

  /** q195: per-row embedding norm QA — the row-wise companion of q169's
    * per-dimension stats: each vector's fixed-point squared L2 norm via a
    * single `aggregate` HOF (integer end to end, no float summation
    * order), flagged against 4× the corpus median (anchor broadcast).
    * Norm outliers distort every cosine downstream (q30–q34, q74) — this
    * is the screen that catches them before indexing. Scan-speed, one
    * 1-row anchor.
    */
  def q195EmbedNorms(spark: SparkSession, dir: String): DataFrame = {
    val q = fanOut(embeddings(spark, dir))
      .withColumn("nq", expr(
        """aggregate(
          |  transform(embedding, v -> CAST(floor(CAST(v AS double) * 1000) AS bigint)),
          |  0L, (a, x) -> a + x * x)""".stripMargin))
    val med = q.agg(expr("percentile(nq, 0.5)").as("med_nq"))
    q.crossJoin(broadcast(med))
      .select(col("vec_id"), col("nq"),
        (col("nq") > col("med_nq") * 4).cast("int").as("is_outlier"))
  }

  private val q195Oracle =
    """WITH n AS (SELECT vec_id,
      |             list_sum(list_transform(embedding,
      |               v -> floor(v::DOUBLE * 1000)::BIGINT * floor(v::DOUBLE * 1000)::BIGINT
      |             ))::BIGINT AS nq
      |           FROM embeddings),
      |m AS (SELECT quantile_cont(nq, 0.5) AS med_nq FROM n)
      |SELECT vec_id, nq, (nq > med_nq * 4)::INT AS is_outlier
      |FROM n CROSS JOIN m""".stripMargin

  /** q196: shard load-balance audit — per-shard doc and token totals for
    * q150's hash layout, plus the imbalance number a training loader
    * cares about: the heaviest shard's share in ppm of a perfectly
    * balanced one (10⁶ = balanced, 2·10⁶ = one shard does double work —
    * stragglers in every epoch). Model-sized aggregate over the shard
    * assignment; the token counting rides the same scan.
    */
  def q196ShardSkew(spark: SparkSession, dir: String): DataFrame = {
    val assigned = Sampling.shardAssign(fanOut(documents(spark, dir)), nShards = 8)
    val toks = fanOut(documents(spark, dir))
      .select(col("doc_id"),
        expr("size(filter(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '), t -> t <> ''))")
          .cast("long").as("n_tok"))
    val per = assigned.join(toks, "doc_id")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("k"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("(1000000 * n_tokens * k) div tot").as("load_ppm"))
  }

  private def q196Oracle: String =
    s"""WITH h AS (SELECT doc_id,
       |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
       |           FROM documents),
       |a AS (SELECT doc_id, (hv % 8)::INT AS shard FROM h),
       |tk AS (SELECT doc_id, count(*)::BIGINT AS n_tok FROM (
       |         SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term FROM documents)
       |       WHERE term <> '' GROUP BY 1),
       |p AS (SELECT shard, count(*)::BIGINT AS n_docs,
       |             sum(coalesce(n_tok, 0))::BIGINT AS n_tokens
       |      FROM a LEFT JOIN tk USING (doc_id) GROUP BY 1),
       |t AS (SELECT sum(n_tokens)::BIGINT AS tot, count(*)::BIGINT AS k FROM p)
       |SELECT shard, n_docs, n_tokens,
       |       (1000000 * n_tokens * k) // tot AS load_ppm
       |FROM p CROSS JOIN t""".stripMargin

  /** q197: tokenizer-compression ratio per language — characters per
    * token in fixed-point (10⁴·Σchars div Σtokens): the
    * tokenizer-efficiency number behind per-language cost estimates
    * (a language tokenizing at 2× the chars/token costs 2× the context
    * budget). One aggregation; `n_chars` comes off the table, tokens
    * from the same normalized split every text operator uses.
    */
  def q197TokenCompression(spark: SparkSession, dir: String): DataFrame =
    fanOut(documents(spark, dir))
      .select(col("lang"), col("n_chars"),
        expr("size(filter(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '), t -> t <> ''))")
          .cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        sum(col("n_tok")).as("tokens"))
      .withColumn("chars_per_tok_4", expr("(10000 * chars) div tokens"))

  private def q197Oracle: String =
    s"""WITH tk AS (SELECT doc_id, count(*)::BIGINT AS n_tok FROM (
       |         SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term FROM documents)
       |       WHERE term <> '' GROUP BY 1)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars,
       |       sum(coalesce(n_tok, 0))::BIGINT AS tokens,
       |       ((10000 * sum(n_chars)) // sum(coalesce(n_tok, 0)))::BIGINT AS chars_per_tok_4
       |FROM documents LEFT JOIN tk USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** DuckDB fragment replaying [[Multimodal.audioFingerprint]]'s
    * sign-of-delta bits for the closed-form WAV fixtures
    * (sample i of doc `id` = (id·31 + i·7) % 65536 − 32768) — one
    * generated string for both engines, the q172/q116 pattern.
    */
  private def audioFpSql(id: String): String = {
    // unsigned sample value: (id*31 + 7*frame) % 65536
    def u(i: Int) = s"(($id * 31 + ${7 * i}) % 65536)"
    (0 until 16)
      .map(i => s"(((${u(i * 23)} % 17) > 8)::INT * ${1 << i})")
      .mkString("(", " + ", ")")
  }

  /** q198: audio fingerprinting — every doc gets a closed-form WAV
    * ([[Multimodal.encodeTestWav]]), the JDK's `javax.sound.sampled`
    * REALLY parses the container and PCM frames, and
    * [[Multimodal.audioFingerprint]] takes 16 strided sign bits. Gated
    * PER CLIP: the oracle predicts every doc's exact bits from the
    * fixture's closed form — one mis-decoded frame anywhere in the
    * corpus flips a bit and fails the hash. The audio leg of the
    * near-dup front end (q172 is the image leg); bucketing on `fp`
    * downstream is plain relational work.
    */
  def q198AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = fanOut(documents(spark, dir)).select(col("doc_id")).as[Long]
    val media = ids
      .mapPartitions(_.map(id => Multimodal.MediaRow(id, Multimodal.encodeTestWav(id))))
      .toDF()
    Multimodal.extractAudioFingerprints(spark, media)
      .toDF()
      .filter(col("decoded"))
      .select("doc_id", "fp")
  }

  private def q198Oracle: String =
    s"""SELECT doc_id, (${audioFpSql("doc_id")})::BIGINT AS fp
       |FROM documents""".stripMargin

  /** q204: the range-normalized HILBERT clustering key over
    * (l_partkey, l_suppkey) — q116's layout key with the Hilbert walk
    * instead of Morton ([[ZOrder.hilbertNormalized]], backed by the
    * codegen'd [[graft.functions.HilbertIndex]] custom expression). The
    * oracle unrolls the identical masked-rotation rounds as generated
    * DuckDB lateral-alias SQL — a 16-round loop replayed engine-exact.
    * The locality property the key exists for (consecutive keys are grid
    * neighbors; Morton's diagonal jumps are gone) is asserted in
    * HilbertSpec.
    */
  def q204HilbertKey(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val b = li.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    li.select(col("l_orderkey"), col("l_linenumber"),
      ZOrder.hilbertNormalized(col("l_partkey"), col("l_suppkey"),
        b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)).as("hval"))
  }

  private def q204Oracle: String =
    s"""WITH b AS (SELECT min(l_partkey) AS xmn, max(l_partkey) AS xmx,
       |                  min(l_suppkey) AS ymn, max(l_suppkey) AS ymx FROM lineitem),
       |n AS (SELECT l_orderkey, l_linenumber,
       |        ((l_partkey - xmn) * 65535) // greatest(1, xmx - xmn) AS hx,
       |        ((l_suppkey - ymn) * 65535) // greatest(1, ymx - ymn) AS hy
       |      FROM lineitem, b),
       |${ZOrder.hilbertRoundsCtesSql("n", Seq("l_orderkey", "l_linenumber"), 16)}
       |SELECT l_orderkey, l_linenumber, a::BIGINT AS hval FROM hfinal""".stripMargin

  /** q205: layout SHOOTOUT — the same conjunctive box predicate (middle
    * decile of both (l_partkey, l_suppkey) domains) measured against
    * three file layouts of lineitem: natural insertion order, Morton
    * z-order (q116's key) and Hilbert (q204's key). Per layout: files,
    * prunable files, rows skipped and skip_ppm — the number that decides
    * which clustering a 100 TB table should pay for, produced WITHOUT
    * writing any of the three layouts (zone stats over the would-be file
    * assignment). File assignment here is the exact `row_number() div
    * rows_per_file` over the key order — the AUDIT formulation; the
    * writers ([[ZOrder.writeZOrdered]]/[[ZOrder.writeHilbertOrdered]])
    * use `repartitionByRange`, whose sampled splits approximate the same
    * assignment without a global sort.
    */
  def q205LayoutShootout(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val b = li.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (pmn, pmx, smn, smx) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (plo, phi) = (pmn + (pmx - pmn) * 45 / 100, pmn + (pmx - pmn) * 55 / 100)
    val (slo, shi) = (smn + (smx - smn) * 45 / 100, smn + (smx - smn) * 55 / 100)
    def report(label: String, key: org.apache.spark.sql.Column): DataFrame = {
      // tiebreak on the FULL attribute tuple: (l_orderkey, l_linenumber)
      // is not unique in the fixture, and rows tying on the key must be
      // interchangeable (identical zone contributions) for the file
      // assignment to be engine-deterministic
      val rk = li.withColumn("key", key)
        .withColumn("fid", expr(
          "(row_number() OVER (ORDER BY key, l_partkey, l_suppkey, " +
            "l_orderkey, l_linenumber) - 1) div 4000"))
      val zones = rk.groupBy("fid").agg(
        min(col("l_partkey")).as("zpmn"), max(col("l_partkey")).as("zpmx"),
        min(col("l_suppkey")).as("zsmn"), max(col("l_suppkey")).as("zsmx"),
        count(lit(1)).as("nr"))
      val pruned = col("zpmx") < plo || col("zpmn") > phi ||
        col("zsmx") < slo || col("zsmn") > shi
      zones.agg(
          count(lit(1)).as("n_files"),
          sum(pruned.cast("long")).as("n_pruned"),
          sum(col("nr")).as("rows_total"),
          sum(when(pruned, col("nr")).otherwise(0L)).as("rows_skipped"))
        .withColumn("skip_ppm", expr("(1000000 * rows_skipped) div rows_total"))
        .withColumn("layout", lit(label))
    }
    report("natural", col("l_orderkey"))
      .unionByName(report("morton",
        ZOrder.interleaveNormalized(col("l_partkey"), col("l_suppkey"), pmn, pmx, smn, smx)))
      .unionByName(report("hilbert",
        ZOrder.hilbertNormalized(col("l_partkey"), col("l_suppkey"), pmn, pmx, smn, smx)))
  }

  private def q205Oracle: String = {
    def block(name: String, keyExpr: String, from: String): String =
      s"""rk_$name AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    (row_number() OVER (ORDER BY $keyExpr, l_partkey, l_suppkey,
         |       l_orderkey, l_linenumber) - 1) // 4000 AS fid
         |  FROM $from),
         |z_$name AS (SELECT fid, min(l_partkey) AS zpmn, max(l_partkey) AS zpmx,
         |    min(l_suppkey) AS zsmn, max(l_suppkey) AS zsmx, count(*)::BIGINT AS nr
         |  FROM rk_$name GROUP BY 1),
         |r_$name AS (SELECT '$name' AS layout, count(*)::BIGINT AS n_files,
         |    sum((zpmx < plo OR zpmn > phi OR zsmx < slo OR zsmn > shi)::BIGINT)::BIGINT AS n_pruned,
         |    sum(nr)::BIGINT AS rows_total,
         |    sum(CASE WHEN zpmx < plo OR zpmn > phi OR zsmx < slo OR zsmn > shi
         |             THEN nr ELSE 0 END)::BIGINT AS rows_skipped
         |  FROM z_$name CROSS JOIN pred)""".stripMargin
    s"""WITH b AS (SELECT min(l_partkey) AS xmn, max(l_partkey) AS xmx,
       |                  min(l_suppkey) AS ymn, max(l_suppkey) AS ymx FROM lineitem),
       |pred AS (SELECT xmn + ((xmx - xmn) * 45) // 100 AS plo,
       |                xmn + ((xmx - xmn) * 55) // 100 AS phi,
       |                ymn + ((ymx - ymn) * 45) // 100 AS slo,
       |                ymn + ((ymx - ymn) * 55) // 100 AS shi FROM b),
       |n AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |        ${ZOrder.interleaveNormalizedSql("l_partkey", "l_suppkey",
                  "xmn", "xmx", "ymn", "ymx")} AS k_mor,
       |        ((l_partkey - xmn) * 65535) // greatest(1, xmx - xmn) AS hx,
       |        ((l_suppkey - ymn) * 65535) // greatest(1, ymx - ymn) AS hy
       |      FROM lineitem, b),
       |${ZOrder.hilbertRoundsCtesSql("n",
            Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "k_mor"), 16)},
       |keyed AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, k_mor,
       |    a AS k_hil FROM hfinal),
       |${block("natural", "l_orderkey", "keyed")},
       |${block("morton", "k_mor", "keyed")},
       |${block("hilbert", "k_hil", "keyed")}
       |SELECT layout, n_files, n_pruned, rows_total, rows_skipped,
       |       (1000000 * rows_skipped) // rows_total AS skip_ppm
       |FROM (SELECT * FROM r_natural UNION ALL SELECT * FROM r_morton
       |      UNION ALL SELECT * FROM r_hilbert)""".stripMargin
  }

  /** q211: one BPE MERGE ROUND — the tokenizer-induction step itself:
    * adjacent-char pair counts over all word tokens (overlapping, the
    * standard BPE statistic), the winning pair (max count, lexicographic
    * tiebreak via a 1-row broadcast), and the corpus-wide number of
    * merge APPLICATIONS that pair admits (leftmost non-overlapping —
    * `replace` semantics, identical in both engines, counted by length
    * delta). q72 induces an n-gram vocab; this is the missing merge
    * dynamics: run it k times and you have the BPE trainer.
    *
    * Scale shape: pair explosion is per-token map-side work; the winner
    * is a 1-row TakeOrdered; the application count is a second scan-speed
    * pass with the winner broadcast.
    */
  def q211BpeRound(spark: SparkSession, dir: String): DataFrame = {
    val toks = fanOut(documents(spark, dir))
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
    val pairs = toks
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
    val winner = pairs.orderBy(col("n").desc, col("pair").asc).limit(1)
      .select(col("pair").as("top_pair"), col("n").as("pair_count"))
    toks.crossJoin(broadcast(winner))
      .select(col("top_pair"), col("pair_count"),
        ((length(col("w")) - length(expr("replace(w, top_pair, '')"))) / 2)
          .cast("long").as("apps"))
      .groupBy("top_pair", "pair_count")
      .agg(sum(col("apps")).as("n_applications"))
  }

  private def q211Oracle: String =
    s"""WITH w AS (SELECT unnest(string_split($DNorm, ' ')) AS w FROM documents),
       |f AS (SELECT w FROM w WHERE len(w) >= 2),
       |p AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair FROM f),
       |c AS (SELECT pair, count(*)::BIGINT AS n FROM p GROUP BY 1),
       |win AS (SELECT pair AS top_pair, n AS pair_count FROM c
       |        ORDER BY n DESC, pair ASC LIMIT 1)
       |SELECT top_pair, pair_count,
       |       sum((len(w) - len(replace(w, top_pair, ''))) // 2)::BIGINT AS n_applications
       |FROM f CROSS JOIN win GROUP BY 1, 2""".stripMargin

  /** q212: per-source DATASET CARD — the one-table corpus summary a data
    * release ships: docs, chars, tokens, distinct languages, and the
    * exact-duplicate rate in ppm (md5 fingerprint groups, q20's
    * definition) per source. A composition capstone over the shared
    * normalized-text boundary; every number integer.
    */
  def q212DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = fanOut(documents(spark, dir))
      .withColumn("fp", md5(TextAnalysis.normalize(col("text"))))
      .withColumn("n_tok", expr(
        "size(filter(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '), t -> t <> ''))")
        .cast("long"))
    val dupPerSource = d.groupBy("source", "fp").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum(col("n") - 1).as("n_dups"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .join(dupPerSource, "source")
      .withColumn("dup_ppm", expr("(1000000 * n_dups) div n_docs"))
  }

  private def q212Oracle: String =
    s"""WITH d AS (SELECT source, lang, n_chars, md5($DNorm) AS fp,
       |        len(list_filter(string_split($DNorm, ' '), t -> t <> ''))::BIGINT AS n_tok
       |      FROM documents),
       |dup AS (SELECT source, sum(n - 1)::BIGINT AS n_dups FROM (
       |          SELECT source, fp, count(*)::BIGINT AS n FROM d GROUP BY 1, 2)
       |        GROUP BY 1)
       |SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_chars,
       |       sum(n_tok)::BIGINT AS n_tokens,
       |       count(DISTINCT lang)::BIGINT AS n_langs,
       |       n_dups, (1000000 * n_dups) // count(*) AS dup_ppm
       |FROM d JOIN dup USING (source)
       |GROUP BY source, n_dups""".stripMargin

  /** q218: column-encoding advisor — the layout-tuning report a 100 TB
    * warehouse runs before (re)writing a table: per column, exact NDV,
    * byte volume, and the value-run count in storage order, folded into a
    * parquet encoding recommendation (`rle` when runs ≤ 10 % of rows,
    * else `dict` when NDV ≤ 5 % of rows, else `plain`). Completes the
    * physical-layout family (q116 z-order, q171 zone maps, q205 layout
    * shootout) on the encoding axis.
    *
    * Runs are counted within 8192-row storage pages (event_id order, the
    * table's arrival order), partitioned by (column, page) — so the run
    * scan is embarrassingly parallel; at most one cross-page run per page
    * boundary is over-counted, matching real parquet pages, which also
    * reset encoding state per page. Only injectively-stringified columns
    * participate (longs + strings; no doubles → no formatting drift).
    *
    * Scale shape: unpivot (row-local) → one shuffle keyed (column, page)
    * for the run windows → re-aggregate to 4 rows. NDV rides the same
    * shuffle via partial distinct on (column, value).
    */
  def q218EncodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val unpiv = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("page", expr("event_id div 8192"))
      .select(col("page"), col("event_id"),
        expr("""stack(4,
          |  'event_id', cast(event_id AS string),
          |  'user_id', cast(user_id AS string),
          |  'event_type', event_type,
          |  'day', cast(day AS string)) AS (col_name, val)""".stripMargin))
    val w = Window.partitionBy("col_name", "page").orderBy(col("event_id").asc)
    val runs = unpiv
      .withColumn("is_run_start",
        (lag(col("val"), 1).over(w).isNull ||
          lag(col("val"), 1).over(w) =!= col("val")).cast("long"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("val")).as("n_distinct"),
        sum(length(col("val"))).as("n_bytes"),
        sum(col("is_run_start")).as("n_runs"))
    runs.select(col("col_name"), col("n_rows"), col("n_distinct"),
      col("n_bytes"), col("n_runs"),
      when(col("n_runs") * 10 <= col("n_rows"), "rle")
        .when(col("n_distinct") * 20 <= col("n_rows"), "dict")
        .otherwise("plain").as("encoding"))
  }

  private val q218Oracle =
    """WITH u AS (
      |  SELECT event_id // 8192 AS page, event_id, col_name, val FROM (
      |    SELECT event_id,
      |           unnest(['event_id', 'user_id', 'event_type', 'day']) AS col_name,
      |           unnest([event_id::VARCHAR, user_id::VARCHAR, event_type,
      |                   (epoch_us(ts) // 86400000000)::VARCHAR]) AS val
      |    FROM events)),
      |r AS (SELECT col_name, val,
      |        (lag(val) OVER (PARTITION BY col_name, page ORDER BY event_id)
      |           IS DISTINCT FROM val)::BIGINT AS is_run_start
      |      FROM u),
      |a AS (SELECT col_name, count(*)::BIGINT AS n_rows,
      |        count(DISTINCT val)::BIGINT AS n_distinct,
      |        sum(length(val))::BIGINT AS n_bytes,
      |        sum(is_run_start)::BIGINT AS n_runs
      |      FROM r GROUP BY 1)
      |SELECT col_name, n_rows, n_distinct, n_bytes, n_runs,
      |       CASE WHEN n_runs * 10 <= n_rows THEN 'rle'
      |            WHEN n_distinct * 20 <= n_rows THEN 'dict'
      |            ELSE 'plain' END AS encoding
      |FROM a""".stripMargin

  /** q224: LSH band-configuration sweep — see [[Dedup.lshParameterSweep]].
    * Measured candidates / true pairs / integer-ppm precision for the
    * (2×8, 4×4, 8×2) groupings of one shared 16-hash signature; the
    * oracle replays each configuration's full chain over the identical
    * md5/affine hash space, so every count is cross-engine exact.
    */
  def q224LshSweep(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshParameterSweep(fanOut(documents(spark, dir)),
      staged = Some((stagedDocShingles(spark, dir), stagedDocSig(spark, dir))))

  private def q224Oracle: String = {
    // the same deterministic per-config pair-sample as the Spark side:
    // md5 of the "a:b" pair id, low-60-bit value mod the config's rate
    def gate(m: Int) =
      s"('0x' || substr(md5(doc_a || ':' || doc_b), 1, 15))::BIGINT % $m = 0"
    def block(bands: Int, rowsPerBand: Int, m: Int) =
      s"""SELECT * FROM (
         |  WITH ${minhashPairsCte("SELECT doc_id, text FROM documents", bands, rowsPerBand)},
         |  smp AS (SELECT * FROM cand WHERE ${gate(m)}),
         |  tru AS (SELECT * FROM pairs WHERE jaccard >= 0.5 AND ${gate(m)})
         |  SELECT ${bands}::BIGINT AS bands, ${rowsPerBand}::BIGINT AS rows_per_band,
         |         (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
         |         (SELECT count(*) FROM smp)::BIGINT AS n_sampled,
         |         (SELECT count(*) FROM tru)::BIGINT AS n_true_sampled,
         |         CASE WHEN (SELECT count(*) FROM smp) = 0 THEN 0
         |              ELSE (1000000 * (SELECT count(*) FROM tru))
         |                   // (SELECT count(*) FROM smp) END AS precision_ppm
         |)""".stripMargin
    Seq(block(2, 8, 1), block(4, 4, 4), block(8, 2, 64)).mkString("\nUNION ALL\n")
  }

  /** q221: fuzzy record linkage over part names — blocked Jaro-Winkler
    * matching, the catalog-dedup / entity-resolution primitive. Distinct
    * names self-join WITHIN first-token blocks only (never all-pairs; the
    * block key shuffles both sides once), then the codegen'd
    * [[graft.functions.JaroWinkler]] scores each candidate pair — the
    * expression runs inside whole-stage codegen in the join's hot loop,
    * where a Scala UDF would box every pair. Pairs at sim ≥ 0.85 survive;
    * similarity is rounded 6 dp on BOTH engines and the gate applies to
    * the rounded value, so the cut is cross-engine stable.
    *
    * At 100 TB: blocking is the standard linkage scale move — candidate
    * count is Σ|block|², bounded by the blocking key's selectivity; a
    * skewed block would salt or sub-block (second token) the same way the
    * dedup ladder's LSH bands do.
    */
  def q221FuzzyParts(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.jaroWinkler
    val names = part(spark, dir).select(col("p_name")).distinct()
      .withColumn("blk", split(col("p_name"), " ").getItem(0))
    val right = names.select(col("blk").as("blk_b"), col("p_name").as("name_b"))
    names.select(col("blk"), col("p_name").as("name_a"))
      .join(right, col("blk") === col("blk_b") && col("name_a") < col("name_b"))
      .withColumn("sim", round(jaroWinkler(col("name_a"), col("name_b")), 6))
      .filter(col("sim") >= 0.85)
      .select("name_a", "name_b", "sim")
  }

  private val q221Oracle =
    """WITH n AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS blk FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
      |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.85""".stripMargin

  /** q233: the TENTH streaming gate — streaming corpus dedup against a
    * GROWING persisted index. An index is built from the first 200 docs;
    * two further document shards arrive as separate micro-batches (file
    * source, one file per trigger, mtime-ordered); each `foreachBatch`
    * dedups the batch against the CURRENT index ([[Dedup.dedupAgainstIndex]]
    * — exact tier + banded MinHash tier), appends the survivors to the
    * accepted output AND to the index ([[Dedup.appendToIndex]]) — so batch
    * 2 is deduped against batch 1's admissions, the property a
    * non-maintained index misses. The oracle replays both stages
    * sequentially over the identical hash space.
    *
    * At 100 TB this IS the streaming ingest shape for a training corpus:
    * the index grows append-only (no rewrite), each batch pays
    * |batch|-sized work against index-sided relations, and the state is
    * all on storage — no executor memory holds the corpus.
    */
  def q233StreamDedupIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val docs = documents(spark, dir)
    val inDir = Staging.streamInput("q233", dir)(Seq(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
      docs.filter(col("doc_id") >= 350)))
    val work = Scratch.stableDir("q233-work-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val idx = s"$work/idx"
    val out = s"$work/accepted"
    // NOT served from the staged sketch (r15 A/B): restricting the staged
    // relations to the 200 seed docs costs a full-sketch parquet scan +
    // semi-join per call — more than shingling 200 docs inline (isolated
    // 5.9 → 6.4 s); the q29 pattern only pays when the restricted side is
    // a large fraction of the corpus
    Dedup.writeIndex(fanOut(docs.filter(col("doc_id") < 200)), idx)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        // fused probe + index maintenance: identical admissions to the
        // dedupAgainstIndex → appendToIndex pair (DedupSpec asserts it),
        // with the batch shingled once instead of twice
        Dedup.ingestAgainstIndex(fanOut(batch), idx)
          .write.mode("append").parquet(out)
      },
      s"$work/ckpt")
    spark.read.parquet(out).select("doc_id", "lang", "source")
  }

  /** One sequential-admission stage as a self-contained subquery: docs of
    * `[lo, hi)` dedup (exact + MinHash) against `oldSrc`; ids in `oldSrc`
    * are all < `lo`, so the generated pair table's doc_a < doc_b order
    * discriminates old→new. Carries every document column so a stage's
    * admissions can BE the next stage's old side.
    */
  private def q233Stage(oldSrc: String, lo: Long, hi: String): String =
    s"""SELECT * FROM (
       |  WITH old_ AS MATERIALIZED ($oldSrc),
       |  new_ AS (SELECT * FROM documents WHERE doc_id >= $lo AND doc_id < $hi),
       |  es AS (SELECT n.* FROM new_ n
       |         WHERE md5(regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g')) NOT IN
       |               (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) FROM old_)),
       |  ${minhashPairsCte("SELECT doc_id, text FROM es UNION ALL SELECT doc_id, text FROM old_")},
       |  dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
       |              WHERE jaccard >= 0.5 AND doc_a < $lo AND doc_b >= $lo)
       |  SELECT * FROM es WHERE doc_id NOT IN (SELECT doc_id FROM dropped))""".stripMargin

  private def q233Oracle: String =
    s"""WITH acc1 AS MATERIALIZED (
       |${q233Stage("SELECT * FROM documents WHERE doc_id < 200", 200L, "350")}
       |),
       |acc2 AS MATERIALIZED (
       |${q233Stage("SELECT * FROM documents WHERE doc_id < 200 UNION ALL SELECT * FROM acc1",
          350L, "1000000000")}
       |)
       |SELECT doc_id, lang, source FROM acc1
       |UNION ALL
       |SELECT doc_id, lang, source FROM acc2""".stripMargin

  /** q225: entity clusters over the fuzzy matches — q221's pair list fed
    * through the SAME large-star/small-star connected-components fixpoint
    * the dedup ladder uses (q27), so "small ring / small rung / small
    * ring-ish" variants collapse to one entity id (the lexicographic
    * minimum name). The record-linkage pipeline end-to-end: block → score
    * → link.
    */
  def q225EntityClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q221FuzzyParts(spark, dir)
      .select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
    val nodes = part(spark, dir).select(col("p_name").as("name")).distinct()
    Dedup.duplicateClusters(nodes, pairs, idCol = "name")
      .select(col("name"), col("cluster_id").as("entity_id"))
  }

  private val q225Oracle =
    """WITH RECURSIVE n AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS blk FROM part),
      |pr AS (SELECT a.p_name AS doc_a, b.p_name AS doc_b
      |       FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      |       WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.85),
      |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
      |      UNION ALL SELECT doc_b, doc_a FROM pr),
      |reach(id, lab) AS (
      |  SELECT p_name, p_name FROM n
      |  UNION
      |  SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
      |)
      |SELECT id AS name, min(lab) AS entity_id FROM reach GROUP BY id""".stripMargin

  /** q226: BM25 relevance against a fixed query — see
    * [[TextAnalysis.bm25Score]]. Terms chosen to span common and rarer
    * corpus vocabulary so idf actually differentiates.
    */
  def q226Bm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Score(fanOut(documents(spark, dir)),
      queryTerms = Seq("spark", "shuffle", "window"))

  private val q226Oracle =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term
       |              FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY 1),
       |a AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t
       |       WHERE term IN ('spark', 'shuffle', 'window') GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |w AS (SELECT tf.doc_id,
       |        ln((n_docs::DOUBLE - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * (1.2 + 1.0))
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl::DOUBLE / n_docs))) AS w
       |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN a)
       |SELECT doc_id, round(sum(w), 4) AS bm25, count(*)::BIGINT AS n_terms_hit
       |FROM w GROUP BY 1""".stripMargin

  /** q366: TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    * corpus keywords as the top-20 PageRank tokens of the token
    * co-occurrence graph: adjacent-token pairs (q227's exact bigram
    * derivation), symmetrized, GROUPED to (src, dst, count) and ranked by
    * [[Graph.pageRankIntWeighted]] — 3 rounds, TextRank's canonical 0.85
    * damping as the exact rational 17/20 (scale 20·2¹⁶ keeps the base
    * integral), every step integer so the oracle unrolls the identical
    * three iterations and the scores match bit-for-bit. Ties at the
    * top-20 boundary break by token, so the cut is deterministic.
    *
    * Scale shape: the expansion (all bigram occurrences) exists only
    * inside ONE map-side-combined groupBy; the iterated edge table is the
    * vocabulary-bounded grouped graph, and each round is two node-keyed
    * hash joins + a re-contraction — the Pregel shape, no driver state.
    */
  def q366TextRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = fanOut(documents(spark, dir)).select(
        explode(graft.functions.GraftFunctions.wordNgramsAll(
          TextAnalysis.tokens(col("text")), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("a"),
        split(col("bg"), " ").getItem(1).as("b"))
    // contract BEFORE symmetrizing: the directed groupBy is the only
    // corpus-scale pass (one explode instead of two — the union's arms each
    // re-derived e0), and the flip+regroup runs on the vocabulary²-bounded
    // GROUPED table; Σ of directed counts ≡ count of unioned occurrences,
    // so the edge relation is row-identical (r15, guide §2.3 "aggregate
    // before you shuffle"). localCheckpoint because the iteration reads the
    // edge relation five times (nodes, outw, 3 rounds) — left lazy, each
    // read re-ran the corpus explode (the triangleCounts shared-subtree
    // rule; isolated steady-state 3.3-3.7 → 1.4-1.7 s at sf0.1).
    val dir0 = e0.groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(count(lit(1)).as("w"))
    val und = dir0
      .unionByName(dir0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint()
    Graph.pageRankIntWeighted(und, iters = 3,
        scale = 1310720L, dampNum = 17L, dampDen = 20L)
      .orderBy(col("score").desc, col("node").asc).limit(20)
      .select(col("node").as("token"), col("score"))
  }

  private val q366Oracle = {
    def iter(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT n.node,
         |         (196608 + coalesce(sum(e.w * ((s.score * 17) // (20 * o.outw))), 0))::BIGINT
         |           AS score
         |  FROM nodes n
         |  LEFT JOIN ew e ON e.dst = n.node
         |  LEFT JOIN $prev s ON e.src = s.node
         |  LEFT JOIN ow o ON e.src = o.src
         |  GROUP BY n.node)""".stripMargin
    s"""WITH n AS (SELECT string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT unnest(CASE WHEN len(tk) >= 2
       |         THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |         ELSE [] END) AS bg FROM n),
       |e0 AS (SELECT split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS b
       |       FROM g),
       |ew AS (SELECT src, dst, count(*)::BIGINT AS w FROM (
       |         SELECT a AS src, b AS dst FROM e0
       |         UNION ALL SELECT b, a FROM e0) GROUP BY 1, 2),
       |nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
       |ow AS (SELECT src, sum(w)::BIGINT AS outw FROM ew GROUP BY 1),
       |s0 AS (SELECT node, 1310720::BIGINT AS score FROM nodes),
       |${iter("s0", "it1")},
       |${iter("it1", "it2")},
       |${iter("it2", "it3")}
       |SELECT node AS token, score FROM it3
       |ORDER BY score DESC, token ASC LIMIT 20""".stripMargin
  }

  /** q227: bigram conditional commonness — see
    * [[TextAnalysis.bigramCondCommonness]]; the oracle replays q72's exact
    * bigram derivation (list comprehension over the normalized split).
    */
  def q227BigramCond(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramCondCommonness(fanOut(documents(spark, dir)))

  private val q227Oracle =
    s"""WITH n AS (SELECT doc_id, string_split($DNorm, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
       |         THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |         ELSE [] END) AS bg FROM n),
       |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM g GROUP BY 1),
       |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c2)::BIGINT AS c1
       |       FROM c2 GROUP BY 1),
       |j AS (SELECT doc_id, (1000000 * c2.c2) // c1.c1 AS cond_ppm
       |      FROM g JOIN c2 USING (bg)
       |      JOIN c1 ON split_part(g.bg, ' ', 1) = c1.w1)
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |       (sum(cond_ppm) // count(*))::BIGINT AS avg_cond_ppm
       |FROM j GROUP BY 1""".stripMargin

  /** q237: exact two-sample Kolmogorov-Smirnov statistic between the even-
    * and odd-id corpus halves on document length — the distributional
    * equality check behind every "did my shard/split/sample skew the
    * data?" question (q196 audits shard VOLUME balance; this audits the
    * SHAPE). Entirely integer: D = max over observed values of
    * |F₁·n₂ − F₂·n₁|, published as ppm over n₁·n₂, with the smallest
    * value attaining the max as the deterministic location.
    *
    * Scale shape: one groupBy on the value domain (map-side combined),
    * then cumulative sums over |distinct values| rows — the value domain,
    * not the corpus (document lengths: thousands of rows at any sf) — and
    * a 1-row aggregate. The two-sided totals ride a broadcast.
    */
  def q237KsTest(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("n_chars"),
      (col("doc_id") % 2 === 0).cast("long").as("is_a"))
    val byVal = d.groupBy("n_chars")
      .agg(sum(col("is_a")).as("ca"), sum(lit(1L) - col("is_a")).as("cb"))
    val tot = byVal.agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2"))
    val w = Window.orderBy(col("n_chars").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal
      .withColumn("f1", sum(col("ca")).over(w))
      .withColumn("f2", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("dev", abs(col("f1") * col("n2") - col("f2") * col("n1")))
      .agg(max(struct(col("dev"), (-col("n_chars")).as("neg_v"))).as("m"),
        first(col("n1")).as("n1"), first(col("n2")).as("n2"))
      .select(col("n1"), col("n2"),
        expr("(1000000 * m.dev) div (n1 * n2)").as("ks_ppm"),
        (-col("m.neg_v")).as("at_value"))
  }

  private val q237Oracle =
    """WITH d AS (SELECT n_chars, (doc_id % 2 = 0)::BIGINT AS is_a FROM documents),
      |bv AS (SELECT n_chars, sum(is_a)::BIGINT AS ca,
      |              sum(1 - is_a)::BIGINT AS cb FROM d GROUP BY 1),
      |t AS (SELECT sum(ca)::BIGINT AS n1, sum(cb)::BIGINT AS n2 FROM bv),
      |c AS (SELECT n_chars,
      |        sum(ca) OVER (ORDER BY n_chars ASC)::BIGINT AS f1,
      |        sum(cb) OVER (ORDER BY n_chars ASC)::BIGINT AS f2
      |      FROM bv),
      |dev AS (SELECT n_chars, abs(f1 * n2 - f2 * n1)::BIGINT AS dev
      |        FROM c CROSS JOIN t),
      |mx AS (SELECT max(dev)::BIGINT AS max_dev FROM dev)
      |SELECT n1, n2, (1000000 * max_dev) // (n1 * n2) AS ks_ppm,
      |       (SELECT min(n_chars) FROM dev WHERE dev = max_dev)::BIGINT AS at_value
      |FROM t CROSS JOIN mx""".stripMargin

  /** q242: hard-negative mining — see [[Similarity.hardNegatives]]; the
    * exact tier over the labeled embedding corpus, top-3 cross-label
    * neighbors for the vec_id < 8 query batch.
    */
  def q242HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 8), k = 3)
  }

  private val q242Oracle =
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, label AS q_label
      |           FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, label FROM embeddings),
      |s AS (SELECT q_id, q_label, vec_id,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
      |      FROM q, c WHERE vec_id <> q_id AND label <> q_label),
      |r AS (SELECT q_id, q_label, vec_id, score,
      |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
      |      FROM s)
      |SELECT q_id, q_label::BIGINT AS q_label, vec_id, rank,
      |       round(score, 4) AS score_r
      |FROM r WHERE rank <= 3""".stripMargin

  /** q243: multi-round BPE training — q211 ran ONE merge round; this runs
    * five REAL ones: after each round the winning character pair is
    * merged corpus-wide into a fresh private-use symbol (U+0100+r), so
    * the next round's pair statistics see merged symbols as single
    * characters — the actual BPE recurrence, not five independent counts.
    * Training runs on the WORD-FREQUENCY table (the standard trainer
    * optimization: |vocab| rows carry the corpus weight, the corpus is
    * scanned once), and each round's winner is a 1-row model read (the
    * anchor pattern). `replace` is leftmost-non-overlapping on both
    * engines — the q211-established contract.
    *
    * Scale shape: one corpus scan to the word-freq table; each round is a
    * pair explode + weighted count over |vocab| rows (map-side combined)
    * and a re-aggregation after the merge. 5 rounds of vocab-sized work,
    * corpus touched once.
    */
  def q243BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val rounds = 5
    var words = fanOut(documents(spark, dir))
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    val merges = (0 until rounds).map { r =>
      val sub = (0x100 + r).toChar.toString
      val winRow = words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .collect()(0)
      val (topPair, cnt) = (winRow.getString(0), winRow.getLong(1))
      val esc = topPair.replace("\\", "\\\\").replace("'", "\\'")
      words = words
        .select(expr(s"replace(w, '$esc', '$sub')").as("w"), col("wc"))
        .groupBy("w").agg(sum(col("wc")).as("wc"))
        .localCheckpoint()
      ((r + 1).toLong, topPair, cnt)
    }
    import spark.implicits._
    merges.toDF("round", "merged_pair", "pair_count")
  }

  private def q243Oracle: String = {
    val head =
      s"""w0 AS MATERIALIZED (
         |  SELECT w, count(*)::BIGINT AS wc FROM (
         |    SELECT unnest(string_split($DNorm, ' ')) AS w FROM documents)
         |  WHERE len(w) >= 2 GROUP BY 1)""".stripMargin
    val rounds = (1 to 5).map { r =>
      val sub = (0x100 + r - 1).toChar
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, sum(wc)::BIGINT AS n FROM (
         |    SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair, wc
         |    FROM w${r - 1}) GROUP BY 1),
         |win$r AS MATERIALIZED (SELECT pair, n FROM p$r ORDER BY n DESC, pair ASC LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT replace(w, (SELECT pair FROM win$r), '$sub') AS w,
         |         sum(wc)::BIGINT AS wc
         |  FROM w${r - 1} GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(r =>
      s"SELECT ${r}::BIGINT AS round, pair AS merged_pair, n AS pair_count FROM win$r")
      .mkString("\nUNION ALL\n")
    s"WITH $head,\n$rounds\n$out"
  }

  /** q241: term burstiness — variance-to-mean ratio of per-document term
    * frequency over the WHOLE corpus (absent docs count as 0, via the
    * closed form `Σ(tf−μ)² = Σtf² − S²/N`): bursty terms (VMR ≫ 1)
    * concentrate in few docs — topical/boilerplate signals; uniform terms
    * (VMR ≈ 1, Poisson-like) are function words. The corpus-linguistics
    * screen next to q75/q227's commonness and q145's novelty. Published
    * as integer ppm — `10⁶·(N·Σtf² − S²) div (S·(N−1))` — top-50 by VMR,
    * min corpus count 50 (the q76 noise guard).
    *
    * Scale shape: one exploded (doc, term) aggregation with map-side
    * combine, a vocabulary-sized rollup, the N anchor broadcast, and a
    * bounded TakeOrderedAndProject head.
    */
  def q241Burstiness(spark: SparkSession, dir: String): DataFrame = {
    val tf = documents(spark, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    tf.groupBy("term")
      .agg(sum(col("tf")).as("s"), sum(expr("tf * tf")).as("sum2"),
        count(lit(1)).as("n_docs_with"))
      .filter(col("s") >= 50)
      .crossJoin(broadcast(n))
      .select(col("term"), col("s"), col("n_docs_with"),
        expr("(1000000 * (n_docs * sum2 - s * s)) div (s * (n_docs - 1))")
          .as("vmr_ppm"))
      .orderBy(col("vmr_ppm").desc, col("term").asc)
      .limit(50)
  }

  private def q241Oracle: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term
       |            FROM documents),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk
       |       WHERE term <> '' GROUP BY 1, 2),
       |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |v AS (SELECT term, sum(tf)::BIGINT AS s, sum(tf * tf)::BIGINT AS sum2,
       |             count(*)::BIGINT AS n_docs_with
       |      FROM tf GROUP BY 1 HAVING sum(tf) >= 50)
       |SELECT term, s, n_docs_with,
       |       (1000000 * (n_docs * sum2 - s * s)) // (s * (n_docs - 1)) AS vmr_ppm
       |FROM v CROSS JOIN n
       |ORDER BY vmr_ppm DESC, term ASC
       |LIMIT 50""".stripMargin

  /** q259: EXACT Jaccard set-similarity join via prefix filtering
    * ([[Dedup.prefixFilterJaccardPairs]], t = 3/5) — every surviving
    * document pair at token-set Jaccard ≥ 0.6 with its exact ppm
    * similarity. The oracle replays the WHOLE chain (df ranking, integer
    * prefix length, prefix-token candidates, length filter,
    * list_intersect verify) — and because prefix filtering is LOSSLESS,
    * the oracle could equally be the naive all-pairs definition;
    * replaying the chain additionally pins the candidate algebra,
    * q224-style.
    *
    * The corpus is first thinned with the deterministic md5 gate at
    * p = 1/10 (q154's DOULION discipline, [[Sampling.hashGate]]): this
    * synthetic corpus is template-heavy — 28 % of ALL doc pairs clear
    * t = 0.6 ungated — so the honest output of an exact ALL-pairs
    * similarity join is Θ(cluster²) BY DEFINITION, not by algorithm
    * (9.8 M candidate pairs from 5 000 docs at sf0.1). On such corpora
    * the production pipeline runs exact dedup (q20) first or gates, and
    * the gate keeps the pair tier's measured cost quadratic-free while
    * the oracle still replays every step.
    */
  def q259PrefixJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJaccardPairs(
      documents(spark, dir).filter(Sampling.hashGate(col("doc_id"), 0.1)),
      tNum = 3L, tDen = 5L)

  private val q259Oracle = {
    val thr = (0.1 * (1L << 60).toDouble).toLong // same literal as hashGate(_, 0.1)
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split($DNorm, ' '))) AS tok
       |  FROM documents
       |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT < $thr),
       |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |df AS (SELECT tok, count(*)::BIGINT AS df FROM t GROUP BY 1),
       |r AS (SELECT doc_id, tok,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY df, tok) AS rk,
       |        count(*) OVER (PARTITION BY doc_id) AS sz
       |      FROM t JOIN df USING (tok)),
       |pfx AS (SELECT doc_id, tok, sz FROM r
       |        WHERE rk <= sz - (3 * sz + 4) // 5 + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |         WHERE 5 * least(a.sz, b.sz) >= 3 * greatest(a.sz, b.sz)),
       |sets AS (SELECT doc_id, list(tok ORDER BY tok) AS l, count(*)::BIGINT AS sz
       |         FROM t GROUP BY 1),
       |v AS (SELECT doc_a, doc_b,
       |        len(list_intersect(sa.l, sb.l))::BIGINT AS inter,
       |        (sa.sz + sb.sz)::BIGINT AS szsum
       |      FROM cand
       |        JOIN sets sa ON sa.doc_id = doc_a
       |        JOIN sets sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |       (1000000 * inter) // (szsum - inter) AS jacc_ppm
       |FROM v WHERE 5 * inter >= 3 * (szsum - inter)""".stripMargin
  }

  /** q267: majority-vote imputation — the FD-guided repair step next to
    * q223's FD *profile*: a deterministic residue masks every 7th doc's
    * `lang` (this corpus ships no real nulls; the mask simulates the
    * ingest gap), and each hole is filled with its source's most frequent
    * OBSERVED language, count ties broken lexicographically — the
    * standard categorical imputer of an ML-prep pipeline, deterministic
    * by construction. Output is doc-level so the oracle pins every single
    * fill, not just the fill counts.
    *
    * Scale shape: the majority map is a |sources × langs| contraction
    * with a per-source argmax window over it, broadcast back onto the
    * corpus — one scan, one model-sized shuffle.
    */
  def q267ImputeLang(spark: SparkSession, dir: String): DataFrame = {
    val masked = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")).as("lang_obs"))
    val wm = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("lang_obs").asc)
    val majority = masked.filter(col("lang_obs").isNotNull)
      .groupBy("source", "lang_obs").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang_obs").as("lang_maj"))
    masked.join(broadcast(majority), "source")
      .select(col("doc_id"),
        coalesce(col("lang_obs"), col("lang_maj")).as("lang_filled"),
        (col("doc_id") % 7 === 0).as("was_imputed"))
  }

  private val q267Oracle =
    """WITH m AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang_obs
      |  FROM documents),
      |maj AS (
      |  SELECT source, lang_obs AS lang_maj FROM (
      |    SELECT source, lang_obs, count(*) AS cnt
      |    FROM m WHERE lang_obs IS NOT NULL GROUP BY 1, 2)
      |  QUALIFY row_number() OVER (PARTITION BY source
      |                             ORDER BY cnt DESC, lang_obs ASC) = 1)
      |SELECT doc_id, coalesce(lang_obs, lang_maj) AS lang_filled,
      |       (doc_id % 7 = 0) AS was_imputed
      |FROM m JOIN maj USING (source)""".stripMargin

  /** q269: FILTERED ANN under the [[annRecallGate]] —
    * [[Similarity.ivfTopKWhere]] restricted to `label = 3` over the
    * full-corpus centroid model (the shared-index pre-filtered search of a
    * vector database; naive post-filtering of an unfiltered top-k is the
    * known wrong answer). nprobe = 14/16: a selective filter thins every
    * cell, so filtered recall needs q230's widest probe — measured
    * recall@5 ≥ 0.9 at both sf0.01 and sf0.1. Exact side: brute force
    * over the SAME filtered corpus, recomputed by the oracle.
    */
  def q269FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    annRecallGate(
      Similarity.ivfTopKWhere(e, q, col("label") === 3, k = 5, nprobe = 14),
      exactTop5Label3(spark, dir))
  }

  private val q269Oracle =
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE label = 3),
      |s AS (SELECT q_id, vec_id,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
      |      FROM q, c WHERE vec_id <> q_id),
      |r AS (SELECT q_id, vec_id,
      |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
      |      FROM s)
      |SELECT count(*)::BIGINT AS exact_pairs, 1::INT AS recall_ge_80
      |FROM r WHERE rank <= 5""".stripMargin

  /** q270: dominant principal direction via INTEGER power iteration — the
    * embedding-QA step after q169's per-dimension variances: quantize each
    * coordinate to fixed point (q169's `floor(x·1000)` scheme), build the
    * exact d×d uncentered second-moment matrix as BIGINT sums, and run two
    * power-iteration rounds `w ← C·w`, renormalizing to `scale·y div
    * max|y|` after each — every step integer, so the direction is bit-exact
    * across engines (float PCA accumulates ulps in both the matrix and the
    * iterate). Renormalization uses an explicit sign decomposition
    * (`sign·(|y|·scale div m)`) because Spark's `div` truncates while
    * DuckDB's `//` floors — they disagree exactly on negative numerators.
    *
    * Scale shape: the moment matrix is one self-join on vec_id (per-row
    * d² pair fan-out, the outer-product expansion) contracted to d² cells
    * with map-side partials — at 100 TB this is the standard one-pass
    * Gram-matrix shuffle (d² cells, not data-sized); both iteration
    * rounds run on the d²-row matrix with a d-row broadcast iterate and a
    * 1-row max anchor. Overflow headroom: |y| ≤ d·maxC·scale ≈
    * 64·5·10⁹·2¹⁰ at sf0.1 — `·scale` stays under 2⁶³ up to ~50k vectors.
    */
  def q270PowerIteration(spark: SparkSession, dir: String): DataFrame = {
    val scale = 1024L
    val qv = fanOut(embeddings(spark, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        floor(col("x").cast("double") * 1000).cast("long").as("q"))
    val cov = qv.select(col("vec_id"), col("i"), col("q").as("qi"))
      .join(qv.select(col("vec_id"), col("i").as("j"), col("q").as("qj")), "vec_id")
      .groupBy("i", "j").agg(sum(col("qi") * col("qj")).as("c"))
      .localCheckpoint() // both power rounds consume the same d^2 matrix
    def renorm(y: DataFrame): DataFrame = {
      val m = y.agg(max(abs(col("y"))).as("m"))
      y.crossJoin(broadcast(m))
        .select(col("i"),
          (signum(col("y")).cast("long") *
            expr(s"(abs(y) * $scale) div m")).as("w"))
    }
    val w1 = renorm(cov
      .groupBy(col("i")).agg(sum(col("c")).as("y"))) // w0 = all-ones
    val w2 = renorm(cov
      .join(broadcast(w1.withColumnRenamed("i", "j")), "j")
      .groupBy(col("i")).agg(sum(col("c") * col("w")).as("y")))
    w2
  }

  private val q270Oracle =
    """WITH x AS (SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::INT AS i,
      |                  floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS q
      |           FROM embeddings),
      |cov AS (SELECT a.i, b.i AS j, sum(a.q * b.q)::BIGINT AS c
      |        FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
      |y1 AS (SELECT i, sum(c)::BIGINT AS y FROM cov GROUP BY 1),
      |m1 AS (SELECT max(abs(y))::BIGINT AS m FROM y1),
      |w1 AS (SELECT i,
      |         (CASE WHEN y < 0 THEN -((-y) * 1024 // m)
      |               ELSE (y * 1024) // m END)::BIGINT AS w
      |       FROM y1 CROSS JOIN m1),
      |y2 AS (SELECT cov.i, sum(c * w)::BIGINT AS y
      |       FROM cov JOIN w1 ON cov.j = w1.i GROUP BY 1),
      |m2 AS (SELECT max(abs(y))::BIGINT AS m FROM y2),
      |w2 AS (SELECT i,
      |         (CASE WHEN y < 0 THEN -((-y) * 1024 // m)
      |               ELSE (y * 1024) // m END)::BIGINT AS w
      |       FROM y2 CROSS JOIN m2)
      |SELECT i, w FROM w2""".stripMargin

  /** q271: Flesch reading-ease in fixed point — per doc: word count W,
    * sentence count S (runs of `[.!?]`, floored at 1 so fragments don't
    * divide by zero), syllable proxy Y (vowel GROUPS — the standard
    * heuristic), and `FRE_milli = 206835 − 1015·W div S − 84600·Y div W`
    * with every division integer floor — the readability axis the quality
    * family (length/punct/stopword, q41) doesn't capture. Vowel groups
    * count via the collapse trick: `len(collapse each group to one char) −
    * len(drop groups)` — both engines' regexp_replace replace ALL matches
    * (DuckDB with 'g'), so the counts are identical by construction.
    *
    * Scale shape: pure per-row codegen'd scan — no shuffle, no join; the
    * doc-level output IS the feature column a quality gate consumes.
    */
  def q271Flesch(spark: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.normalize(col("text"))
    val w = size(split(t, " ")).cast("long")
    val sRuns = length(regexp_replace(t, "[.!?]+", "S")) -
      length(regexp_replace(t, "[.!?]+", ""))
    val s = greatest(sRuns.cast("long"), lit(1L))
    val y = (length(regexp_replace(t, "[aeiou]+", "V")) -
      length(regexp_replace(t, "[aeiou]+", ""))).cast("long")
    documents(spark, dir)
      .select(col("doc_id"), w.as("w"), s.as("s"), y.as("y"))
      .withColumn("fre_milli",
        expr("206835 - (1015 * w) div s - (84600 * y) div w"))
  }

  private val q271Oracle =
    s"""SELECT doc_id, w, s, y,
       |       (206835 - (1015 * w) // s - (84600 * y) // w)::BIGINT AS fre_milli
       |FROM (
       |  SELECT doc_id,
       |         len(string_split($DNorm, ' '))::BIGINT AS w,
       |         greatest((len(regexp_replace($DNorm, '[.!?]+', 'S', 'g'))
       |           - len(regexp_replace($DNorm, '[.!?]+', '', 'g')))::BIGINT, 1) AS s,
       |         (len(regexp_replace($DNorm, '[aeiou]+', 'V', 'g'))
       |           - len(regexp_replace($DNorm, '[aeiou]+', '', 'g')))::BIGINT AS y
       |  FROM documents)""".stripMargin

  /** q275: referential-integrity audit ([[Expectations
    * .referentialIntegrity]]) — the cross-TABLE expectation next to q131's
    * row rules: the real lineitem→orders edge must come back CLEAN
    * (0 orphans — the testdata's actual contract), and a residue-corrupted
    * orders→customer edge (custkey ×7 on every 97th order — keys driven
    * out of the parent domain) must report exactly the orphan set the
    * residue created, so a silently-broken checker can't pass on an
    * all-clean corpus.
    */
  def q275RefIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val corrupted = orders(spark, dir)
      .select(when(col("o_orderkey") % 97 === 0, col("o_custkey") * 7)
        .otherwise(col("o_custkey")).as("fk"))
    Expectations.referentialIntegrity(
        lineitem(spark, dir), orders(spark, dir),
        "l_orderkey", "o_orderkey", "lineitem_orders")
      .unionByName(Expectations.referentialIntegrity(
        corrupted, customer(spark, dir), "fk", "c_custkey", "orders7_customer"))
  }

  private val q275Oracle =
    """SELECT 'lineitem_orders' AS rule,
      |       (SELECT count(*) FROM lineitem
      |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))::BIGINT AS violations,
      |       (SELECT count(*) FROM lineitem)::BIGINT AS n_rows
      |UNION ALL
      |SELECT 'orders7_customer',
      |       (SELECT count(*) FROM (
      |          SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_custkey * 7
      |                      ELSE o_custkey END AS fk FROM orders)
      |        WHERE fk NOT IN (SELECT c_custkey FROM customer))::BIGINT,
      |       (SELECT count(*) FROM orders)::BIGINT""".stripMargin

  /** q276: transposition-aware fuzzy linkage — blocked FULL
    * Damerau-Levenshtein pairs over distinct part names (codegen'd
    * [[graft.functions.DamerauLevenshtein]] in the pair hot loop, q221's
    * join shape with the NOUN token as the block), kept at distance ≤ 3.
    * The typo model plain `levenshtein` (q95's tier) understates: a
    * swapped-letter name is distance 1 here, 2 there. DuckDB ships the
    * same Lowrance–Wagner algorithm natively (`damerau_levenshtein` —
    * `CA→ABC = 2`, verified), so every pair's distance is cross-engine
    * EXACT — the q221 discipline for a second custom expression.
    */
  def q276DamerauPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.damerauLevenshtein
    val names = part(spark, dir).select(col("p_name")).distinct()
      .withColumn("blk", split(col("p_name"), " ").getItem(1))
    val right = names.select(col("blk").as("blk_b"), col("p_name").as("name_b"))
    names.select(col("blk"), col("p_name").as("name_a"))
      .join(right, col("blk") === col("blk_b") && col("name_a") < col("name_b"))
      .withColumn("dist", damerauLevenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 3)
      .select("name_a", "name_b", "dist")
  }

  private val q276Oracle =
    """WITH n AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS blk FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       damerau_levenshtein(a.p_name, b.p_name)::BIGINT AS dist
      |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 3""".stripMargin

  /** q281: BPE-ish regex PRETOKENIZER counts — per doc, token counts under
    * the GPT-2-style class split (letter runs / digit runs / single
    * non-alphanumeric marks) via `regexp_extract_all` on the normalized
    * text: the pre-tokenization pass every BPE trainer (q211/q243) runs
    * before merging, and the context-budget estimator's input (whitespace
    * counting — q197's basis — undercounts punctuation-heavy text, which
    * is exactly what this splits out). The three class patterns are plain
    * character classes, semantics-identical across Java and RE2 regex
    * engines — the cross-engine contract that makes a regex tokenizer
    * oracle-able at all.
    *
    * Scale shape: pure per-row scan, no shuffle; the doc-level counts are
    * the feature columns a packing planner (q58) consumes.
    */
  def q281Pretokenizer(spark: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.normalize(col("text"))
    def n(pat: String): org.apache.spark.sql.Column =
      size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")
    documents(spark, dir)
      .select(col("doc_id"),
        n("[a-z]+").as("n_alpha"),
        n("[0-9]+").as("n_num"),
        n("[^a-z0-9 ]").as("n_mark"))
      .withColumn("n_tokens", col("n_alpha") + col("n_num") + col("n_mark"))
  }

  private val q281Oracle =
    s"""SELECT doc_id,
       |       len(regexp_extract_all($DNorm, '[a-z]+'))::BIGINT AS n_alpha,
       |       len(regexp_extract_all($DNorm, '[0-9]+'))::BIGINT AS n_num,
       |       len(regexp_extract_all($DNorm, '[^a-z0-9 ]'))::BIGINT AS n_mark,
       |       (len(regexp_extract_all($DNorm, '[a-z]+'))
       |        + len(regexp_extract_all($DNorm, '[0-9]+'))
       |        + len(regexp_extract_all($DNorm, '[^a-z0-9 ]')))::BIGINT AS n_tokens
       |FROM documents""".stripMargin

  /** q282: training-MIX REBALANCER — given per-source target WEIGHTS
    * (deterministic from the source name's digits here, `(num mod 4) + 1`),
    * derive the per-source keep fractions that hit the target token
    * proportions by DOWNSAMPLING only: `keep_s = c·w_s/tokens_s` with the
    * binding source (min tokens/w, the one kept whole) at exactly 10⁶ ppm.
    * The argmin runs on the exact integer key `tokens·(12/w)` (w ∈ 1..4,
    * so 12/w clears the denominator — no float rational anywhere), and
    * every published fraction is the cross-multiplied integer
    * `(10⁶·w_s·tokens_b) div (w_b·tokens_s)`. This PLANS the ratios that
    * [[Sampling.weightedMix]] then executes — the missing half of the
    * mixing story (q57 applies given fractions; this derives them).
    *
    * Scale shape: one |sources|-row contraction, a 1-row argmin broadcast,
    * pure integer arithmetic back on the model-sized table.
    */
  def q282MixRebalancer(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(TextAnalysis.tokens(col("text")))).cast("long").as("tokens"))
      .withColumn("w", expr("cast(substring(source, 4) AS long) % 4 + 1"))
    val binding = toks
      .withColumn("key", col("tokens") * (lit(12L) / col("w")).cast("long"))
      .orderBy(col("key").asc, col("source").asc).limit(1)
      .select(col("tokens").as("tok_b"), col("w").as("w_b"))
    toks.crossJoin(broadcast(binding))
      .select(col("source"), col("tokens"), col("w"),
        expr("(1000000 * w * tok_b) div (w_b * tokens)").as("keep_ppm"))
      .withColumn("kept_tokens_est", expr("(tokens * keep_ppm) div 1000000"))
  }

  private val q282Oracle =
    s"""WITH t AS (
       |  SELECT source, sum(len(string_split($DNorm, ' ')))::BIGINT AS tokens,
       |         (substring(source, 4)::BIGINT % 4 + 1)::BIGINT AS w
       |  FROM documents GROUP BY source),
       |b AS (SELECT tokens AS tok_b, w AS w_b FROM t
       |      ORDER BY tokens * (12 // w) ASC, source ASC LIMIT 1)
       |SELECT source, tokens, w,
       |       (1000000 * w * tok_b) // (w_b * tokens) AS keep_ppm,
       |       (tokens * ((1000000 * w * tok_b) // (w_b * tokens))) // 1000000
       |         AS kept_tokens_est
       |FROM t CROSS JOIN b""".stripMargin

  /** q283: exact-dup STORAGE-SAVINGS report — the dedup family's cost-
    * benefit rollup: per duplicate-cluster size k, how many clusters, their
    * total raw chars, and the chars RECLAIMED by keeping only each
    * cluster's min-id copy (duplicates by NORMALIZED text can differ in
    * raw length, so the keeper's own raw chars — carried via a
    * min-by-struct aggregate, never a second join — are what survive).
    * The "dedup saves X%" number a curation run reports before it runs.
    */
  def q283DedupSavings(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("copies"), sum(col("n_chars")).as("chars"),
        min(struct(col("doc_id"), col("n_chars"))).as("kp"))
      .groupBy("copies")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("chars")).as("total_chars"),
        sum(col("chars") - col("kp.n_chars")).as("reclaim_chars"))

  private val q283Oracle =
    s"""WITH g AS (
       |  SELECT md5($DNorm) AS fp, count(*)::BIGINT AS copies,
       |         sum(n_chars)::BIGINT AS chars,
       |         min({'d': doc_id, 'c': n_chars}).c AS keeper_chars
       |  FROM documents GROUP BY 1)
       |SELECT copies, count(*)::BIGINT AS n_clusters,
       |       sum(chars)::BIGINT AS total_chars,
       |       sum(chars - keeper_chars)::BIGINT AS reclaim_chars
       |FROM g GROUP BY 1""".stripMargin

  /** q295: span-corruption MASK PLANNER (T5-style) — for every complete
    * 10-token window of each doc, a deterministic 2-token span to mask,
    * its offset drawn from the engine's standard md5 hash of
    * `doc_id_window` (`mod (W−L+1)`, so spans never straddle windows and
    * the plan is non-overlapping BY CONSTRUCTION — no rejection loop, the
    * property a distributed masker needs). One row per span plus the
    * per-doc coverage ppm: the training-objective prep step between
    * cleaning (q41) and packing (q58) — the mask plan ships WITH the
    * corpus so every epoch masks identically.
    *
    * Scale shape: sequence+explode fan-out is n/W rows per doc (a 10×
    * CONTRACTION of the corpus); everything else is per-row hash
    * arithmetic in codegen.
    */
  def q295SpanMaskPlan(spark: SparkSession, dir: String): DataFrame = {
    val W = 10
    val L = 2
    documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= W)
      .select(col("doc_id"), col("n_tokens"),
        explode(expr(s"sequence(0L, n_tokens div $W - 1)")).as("w"))
      .withColumn("span_start",
        col("w") * W +
          Dedup.baseHash(concat_ws("_", col("doc_id"), col("w"))) % (W - L + 1))
      .select(col("doc_id"), col("w"), col("span_start"),
        lit(L.toLong).as("span_len"),
        expr(s"(1000000 * $L * (n_tokens div $W)) div n_tokens").as("mask_ppm"))
  }

  private val q295Oracle =
    s"""WITH d AS (
       |  SELECT doc_id, len(string_split($DNorm, ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |w AS (SELECT doc_id, n_tokens, unnest(range(n_tokens // 10)) AS w
       |      FROM d WHERE n_tokens >= 10)
       |SELECT doc_id, w,
       |       w * 10 + ('0x' || substr(md5(doc_id::VARCHAR || '_' || w::VARCHAR), 1, 15))::BIGINT % 9
       |         AS span_start,
       |       2::BIGINT AS span_len,
       |       (1000000 * 2 * (n_tokens // 10)) // n_tokens AS mask_ppm
       |FROM w""".stripMargin

  /** q297: top-terms CHURN between corpus halves — overlap@k of the top-50
    * token lists of the even- and odd-doc halves, plus per-rank agreement:
    * the text-distribution-shift detector (a vocabulary whose head churns
    * between two samples of "the same" corpus is drifting; q237's KS
    * checks SHAPE on numbers, this checks the HEAD on tokens). Both
    * top-50 lists cut by (count desc, term asc) — deterministic ties —
    * and the overlap statistics are pure integers. Output: one row —
    * overlap@50, rank-exact agreements, and the two halves' token totals.
    *
    * Scale shape: two token-keyed contractions (one per half, same
    * shuffle family), each cut to 50 rows by the bounded
    * TakeOrderedAndProject heap; the comparison joins two 50-row sides.
    */
  def q297TermChurn(spark: SparkSession, dir: String): DataFrame = {
    def top(half: Long): DataFrame =
      documents(spark, dir).filter(col("doc_id") % 2 === half)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(50)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok").asc)))
    val a = top(0L).select(col("tok"), col("rnk").as("rnk_a"), col("cnt").as("cnt_a"))
    val b = top(1L).select(col("tok"), col("rnk").as("rnk_b"), col("cnt").as("cnt_b"))
    a.join(b, Seq("tok"), "full_outer")
      .agg(
        sum((col("rnk_a").isNotNull && col("rnk_b").isNotNull).cast("long"))
          .as("overlap_at_50"),
        sum((col("rnk_a") === col("rnk_b")).cast("long")).as("rank_exact"),
        sum(coalesce(col("cnt_a"), lit(0L))).as("head_tokens_even"),
        sum(coalesce(col("cnt_b"), lit(0L))).as("head_tokens_odd"))
  }

  private val q297Oracle =
    s"""WITH ta AS (
       |  SELECT tok, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split($DNorm, ' ')) AS tok
       |        FROM documents WHERE doc_id % 2 = 0)
       |  WHERE tok <> '' GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 50),
       |tb AS (
       |  SELECT tok, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split($DNorm, ' ')) AS tok
       |        FROM documents WHERE doc_id % 2 = 1)
       |  WHERE tok <> '' GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 50),
       |ra AS (SELECT tok, cnt AS cnt_a,
       |         row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk_a FROM ta),
       |rb AS (SELECT tok, cnt AS cnt_b,
       |         row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk_b FROM tb)
       |SELECT sum((rnk_a IS NOT NULL AND rnk_b IS NOT NULL)::BIGINT)::BIGINT AS overlap_at_50,
       |       sum((rnk_a = rnk_b)::BIGINT)::BIGINT AS rank_exact,
       |       sum(coalesce(cnt_a, 0))::BIGINT AS head_tokens_even,
       |       sum(coalesce(cnt_b, 0))::BIGINT AS head_tokens_odd
       |FROM ra FULL OUTER JOIN rb USING (tok)""".stripMargin

  /** q298: the mix plan EXECUTED — q282's derived keep-ppm fractions
    * applied per doc through the deterministic md5 modulo gate
    * (`baseHash(doc_id) mod 10⁶ < keep_ppm` — hashGate's arithmetic with a
    * COLUMNAR threshold), then the achieved per-source token shares laid
    * next to the targets: the plan→execute→audit loop of a corpus
    * rebalancing run in one oracled query. Achieved shares track targets
    * only as well as the hash gate samples — the audit making that
    * deviation VISIBLE is the point.
    */
  def q298MixExecuted(spark: SparkSession, dir: String): DataFrame = {
    val plan = q282MixRebalancer(spark, dir).select("source", "w", "keep_ppm")
    val wSum = plan.agg(sum(col("w")).as("w_sum"))
    val kept = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .join(broadcast(plan), "source")
      .filter(Dedup.baseHash(col("doc_id").cast("string")) % 1000000 < col("keep_ppm"))
      .groupBy("source")
      .agg(max(col("w")).as("w"), count(lit(1)).as("n_docs_kept"),
        sum(col("n_toks")).as("kept_tokens"))
    val total = kept.agg(sum(col("kept_tokens")).as("total_kept"))
    kept.crossJoin(broadcast(total)).crossJoin(broadcast(wSum))
      .select(col("source"), col("n_docs_kept"), col("kept_tokens"),
        expr("(1000000 * kept_tokens) div total_kept").as("achieved_ppm"),
        expr("(1000000 * w) div w_sum").as("target_ppm"))
  }

  private val q298Oracle =
    s"""WITH t AS (
       |  SELECT source, sum(len(string_split($DNorm, ' ')))::BIGINT AS tokens,
       |         (substring(source, 4)::BIGINT % 4 + 1)::BIGINT AS w
       |  FROM documents GROUP BY source),
       |b AS (SELECT tokens AS tok_b, w AS w_b FROM t
       |      ORDER BY tokens * (12 // w) ASC, source ASC LIMIT 1),
       |plan AS (SELECT source, w,
       |           (1000000 * w * tok_b) // (w_b * tokens) AS keep_ppm
       |         FROM t CROSS JOIN b),
       |ws AS (SELECT sum(w)::BIGINT AS w_sum FROM plan),
       |kept AS (
       |  SELECT d.source, max(p.w)::BIGINT AS w, count(*)::BIGINT AS n_docs_kept,
       |         sum(len(string_split($DNorm, ' ')))::BIGINT AS kept_tokens
       |  FROM documents d JOIN plan p USING (source)
       |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
       |          < p.keep_ppm
       |  GROUP BY 1),
       |tot AS (SELECT sum(kept_tokens)::BIGINT AS total_kept FROM kept)
       |SELECT source, n_docs_kept, kept_tokens,
       |       (1000000 * kept_tokens) // total_kept AS achieved_ppm,
       |       (1000000 * w) // w_sum AS target_ppm
       |FROM kept CROSS JOIN tot CROSS JOIN ws""".stripMargin

  /** q299: BPE ENCODE — q243 trains five merge rounds; this applies the
    * learned merges to the whole corpus, corpus-wide in merge order (each
    * merge is one `replace`, leftmost-non-overlapping — the q211/q243
    * contract — so sequential application reproduces the trainer's end
    * state exactly), and reports the per-source compression the learned
    * vocabulary actually buys: chars in → symbols out → saved ppm. The
    * train→apply loop of a tokenizer build in one oracled query.
    *
    * Scale shape: the trainer's one corpus scan to the word-frequency
    * table plus five vocab-sized rounds (each winner a 1-row anchor
    * read); encode is ONE more corpus scan with a five-deep columnar
    * `replace` chain (codegen'd, no per-row interpretation), aggregated
    * per source with map-side combine. Merged symbols are single
    * private-use chars, so `length` after the chain IS the symbol count.
    */
  def q299BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val rounds = 5
    var words = fanOut(documents(spark, dir))
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val merges = (0 until rounds).map { r =>
      val sub = (0x100 + r).toChar.toString
      val topPair = words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .collect()(0).getString(0)
      words = words
        .select(expr(s"replace(w, '${esc(topPair)}', '$sub')").as("w"), col("wc"))
        .groupBy("w").agg(sum(col("wc")).as("wc"))
        .localCheckpoint()
      (topPair, sub)
    }
    val encSql = merges.foldLeft("w") { case (acc, (pair, sub)) =>
      s"replace($acc, '${esc(pair)}', '$sub')"
    }
    documents(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("source"), length(col("w")).cast("long").as("before"),
        length(expr(encSql)).cast("long").as("after"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(col("before")).as("chars_before"),
        sum(col("after")).as("symbols_after"))
      .withColumn("saved_ppm",
        expr("(1000000 * (chars_before - symbols_after)) div chars_before"))
  }

  private def q299Oracle: String = {
    // win1..win5 CTEs exactly as the q243 trainer oracle builds them
    val head =
      s"""w0 AS MATERIALIZED (
         |  SELECT w, count(*)::BIGINT AS wc FROM (
         |    SELECT unnest(string_split($DNorm, ' ')) AS w FROM documents)
         |  WHERE len(w) >= 2 GROUP BY 1)""".stripMargin
    val rounds = (1 to 5).map { r =>
      val sub = (0x100 + r - 1).toChar
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, sum(wc)::BIGINT AS n FROM (
         |    SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair, wc
         |    FROM w${r - 1}) GROUP BY 1),
         |win$r AS MATERIALIZED (SELECT pair, n FROM p$r ORDER BY n DESC, pair ASC LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT replace(w, (SELECT pair FROM win$r), '$sub') AS w,
         |         sum(wc)::BIGINT AS wc
         |  FROM w${r - 1} GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val enc = (1 to 5).foldLeft("w") { (acc, r) =>
      s"replace($acc, (SELECT pair FROM win$r), '${(0x100 + r - 1).toChar}')"
    }
    s"""WITH $head,
       |$rounds,
       |tk AS (SELECT source, unnest(string_split($DNorm, ' ')) AS w FROM documents),
       |e AS (SELECT source, len(w)::BIGINT AS before, len($enc)::BIGINT AS after
       |      FROM tk WHERE w <> '')
       |SELECT source, count(*)::BIGINT AS n_tokens,
       |       sum(before)::BIGINT AS chars_before,
       |       sum(after)::BIGINT AS symbols_after,
       |       ((1000000 * (sum(before) - sum(after))) // sum(before))::BIGINT AS saved_ppm
       |FROM e GROUP BY 1""".stripMargin
  }

  /** q300: DSIR-style data selection — importance weights from hashed
    * unigram distributions (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): every token hashes into one of
    * 1024 buckets; the target distribution comes from the `src0` slice,
    * the raw distribution from the whole corpus; a document's score is
    * its mean per-token likelihood ratio. All arithmetic is integer —
    * bucket probabilities in parts-per-billion with Laplace smoothing,
    * ratios in ppm CLIPPED at 100× (importance-weight clipping, the
    * standard variance guard) — so both engines agree bit-for-bit.
    * Output: the top-50 selected documents.
    *
    * Scale shape: one exploded token scan builds raw+target bucket counts
    * in a SINGLE aggregation (conditional sum, map-side combined); the
    * 1024-row bucket model and its totals broadcast back onto the same
    * token stream; per-doc agg then a bounded TakeOrderedAndProject head.
    * The ppb-first formulation (`divide before multiply`) keeps every
    * intermediate inside 64 bits at 100 TB token counts, and the 100×
    * clip bounds a document's sum at n_tok·10⁸.
    */
  def q300DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val toks = fanOut(documents(spark, dir))
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .withColumn("b", Dedup.baseHash(col("term")) % 1024)
    val buckets = toks.groupBy("b").agg(
      count(lit(1)).as("cnt_r"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("cnt_t"))
    // corpus totals as an empty-frame window over the ≤1024-row bucket
    // contraction — bounded by construction, and it keeps the model build
    // at ONE corpus scan (a separate .agg would re-execute the lineage)
    val w = Window.partitionBy()
    val rated = buckets
      .withColumn("tot_r", sum(col("cnt_r")).over(w))
      .withColumn("tot_t", sum(col("cnt_t")).over(w))
      .select(col("b"),
      expr("""least(
              |  (1000000 * greatest((1000000000 * (cnt_t + 1)) div (tot_t + 1024), 1))
              |    div greatest((1000000000 * (cnt_r + 1)) div (tot_r + 1024), 1),
              |  100000000)""".stripMargin).as("ratio_ppm"))
    toks.join(broadcast(rated), "b")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tok"), sum(col("ratio_ppm")).as("ratio_sum"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr("ratio_sum div n_tok").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id").asc).limit(50)
  }

  private val q300Oracle =
    s"""WITH tk AS (SELECT doc_id, source, unnest(string_split($DNorm, ' ')) AS term
       |            FROM documents),
       |t2 AS (SELECT doc_id, source, term,
       |         ('0x' || substr(md5(term), 1, 15))::BIGINT % 1024 AS b
       |       FROM tk WHERE term <> ''),
       |bk AS (SELECT b, count(*)::BIGINT AS cnt_r,
       |         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS cnt_t
       |       FROM t2 GROUP BY 1),
       |tot AS (SELECT sum(cnt_r)::BIGINT AS tot_r, sum(cnt_t)::BIGINT AS tot_t FROM bk),
       |r AS (SELECT b,
       |        least((1000000 * greatest((1000000000 * (cnt_t + 1)) // (tot_t + 1024), 1))
       |                // greatest((1000000000 * (cnt_r + 1)) // (tot_r + 1024), 1),
       |              100000000)::BIGINT AS ratio_ppm
       |      FROM bk CROSS JOIN tot),
       |d AS (SELECT doc_id, source, count(*)::BIGINT AS n_tok,
       |        sum(ratio_ppm)::BIGINT AS ratio_sum
       |      FROM t2 JOIN r USING (b) GROUP BY 1, 2)
       |SELECT doc_id, source, n_tok, (ratio_sum // n_tok)::BIGINT AS score_ppm
       |FROM d ORDER BY score_ppm DESC, doc_id ASC LIMIT 50""".stripMargin

  /** q304: hybrid search — reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009) of a lexical and a vector arm, the shape every modern RAG
    * retrieval stack runs: BM25 top-50 (q226's scorer, ranked on the
    * ROUNDED score so float summation order can't reorder engines) fused
    * with cosine top-50 against the `vec_id = 0` query embedding
    * (`RRF = Σ 10⁶ div (60 + rank)`, integer so fusion is exact), top-20
    * out. Documents present in only one arm keep the other arm's
    * contribution at 0 — the full-outer union of the two rank lists.
    *
    * Scale shape: each arm ends in a bounded top-50 cut
    * (TakeOrderedAndProject / the collectTopK heap); the rank assignment
    * and fusion run on ≤100 rows. The corpus is scanned once per arm.
    */
  def q304HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val text = TextAnalysis.bm25Score(fanOut(documents(spark, dir)),
      queryTerms = Seq("spark", "shuffle", "window"))
      .withColumn("bm", round(col("bm25"), 4))
    val tRank = text.orderBy(col("bm").desc, col("doc_id").asc).limit(50)
      .withColumn("rank_text",
        row_number().over(Window.orderBy(col("bm").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank_text"))
    val e = fanOut(embeddings(spark, dir))
    val vRank = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
      .select(col("vec_id").as("doc_id"), col("rank").as("rank_vec"))
    tRank.join(vRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        expr("coalesce(1000000 div (60 + rank_text), 0)" +
          " + coalesce(1000000 div (60 + rank_vec), 0)"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc).limit(20)
      .select("doc_id", "rank_text", "rank_vec", "rrf_ppm")
  }

  private val q304Oracle =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($DNorm, ' ')) AS term
       |              FROM documents),
       |t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY 1),
       |a AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t
       |       WHERE term IN ('spark', 'shuffle', 'window') GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |w AS (SELECT tf.doc_id,
       |        ln((n_docs::DOUBLE - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * (1.2 + 1.0))
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl::DOUBLE / n_docs))) AS w
       |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN a),
       |bm AS (SELECT doc_id, round(sum(w), 4) AS bm FROM w GROUP BY 1),
       |tr AS (SELECT doc_id,
       |         row_number() OVER (ORDER BY bm DESC, doc_id ASC) AS rank_text
       |       FROM bm ORDER BY bm DESC, doc_id ASC LIMIT 50),
       |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT vec_id,
       |        list_dot_product(qv, embedding::DOUBLE[])
       |          / (sqrt(list_dot_product(qv, qv))
       |             * sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS sc
       |      FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
       |vr AS (SELECT vec_id AS doc_id,
       |         row_number() OVER (ORDER BY sc DESC, vec_id ASC) AS rank_vec
       |       FROM s ORDER BY sc DESC, vec_id ASC LIMIT 50),
       |f AS (SELECT doc_id, rank_text, rank_vec,
       |        coalesce(1000000 // (60 + rank_text), 0)
       |          + coalesce(1000000 // (60 + rank_vec), 0) AS rrf_ppm
       |      FROM tr FULL OUTER JOIN vr USING (doc_id))
       |SELECT doc_id, rank_text, rank_vec, rrf_ppm
       |FROM f ORDER BY rrf_ppm DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Ideal DCG@10 for graded relevance 10..1 — one shared double literal
    * inlined into BOTH engines' SQL so the normalization constant cannot
    * drift between them.
    */
  private val Idcg10: Double =
    (1 to 10).map(r => (11.0 - r) / (math.log(r + 1.0) / math.log(2.0))).sum

  /** q305: rank-quality metrics of a compressed index — NDCG@10 and MRR of
    * the SQ8 asymmetric-distance ranking against the exact ranking, the
    * IR-evaluation harness every retrieval stack needs next to its recall
    * gates (q31/q32): recall says WHETHER the true neighbors surface, NDCG
    * says how well their ORDER survives quantization, MRR how deep the
    * first true hit sits. Relevance is graded from the exact arm
    * (rel = 11 − exact_rank for the top-10); the approx arm ranks by
    * cosine against the SQ8-RECONSTRUCTED corpus (`mn + c·(mx−mn)/255` —
    * the asymmetric scheme: raw query, quantized corpus). MRR in integer
    * ppm; DCG normalized by the shared [[Idcg10]] literal and rounded to
    * 4 decimals (sums of ≤10 doubles — rounding absorbs association
    * order).
    *
    * Scale shape: two broadcast-query brute-force passes ending in
    * bounded collectTopK heaps; metric aggregation on ≤80 rows.
    */
  def q305RankMetrics(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(e, q, k = 10)
      .select(col("q_id"), col("vec_id"), (lit(11) - col("rank")).as("rel"))
    val recon = e
      .select(col("vec_id"), Similarity.sq8(col("embedding")).as("qz"))
      .select(col("vec_id"),
        expr("transform(qz.codes, c -> qz.mn + c * (qz.mx - qz.mn) / 255.0)")
          .as("embedding"))
    val approx = Similarity.bruteForceTopK(recon,
      q.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      k = 10)
    approx.select(col("q_id"), col("vec_id"), col("rank").as("apx_rank"))
      .join(exact, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(
        count(col("rel")).as("n_hits"),
        coalesce(
          expr("1000000 div min(CASE WHEN rel IS NOT NULL THEN apx_rank END)"),
          lit(0L)).as("mrr_ppm"),
        round(
          expr("sum(CASE WHEN rel IS NOT NULL THEN rel / log2(apx_rank + 1) ELSE 0.0 END)")
            / lit(Idcg10), 4).as("ndcg_4"))
  }

  private def q305Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
       |sx AS (SELECT q_id, vec_id,
       |         list_dot_product(qv, v)
       |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sc
       |       FROM e JOIN q ON vec_id <> q_id),
       |ex AS (SELECT q_id, vec_id, 11 - rk AS rel FROM (
       |         SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rk
       |         FROM sx) WHERE rk <= 10),
       |rc AS (SELECT vec_id, list_min(v) AS mn, list_max(v) AS mx,
       |         list_transform(v, x -> CASE WHEN list_max(v) = list_min(v) THEN 0
       |           ELSE least(floor((x - list_min(v)) * 255.0 / (list_max(v) - list_min(v))),
       |                      255.0)::INT END) AS codes
       |       FROM e),
       |rv AS (SELECT vec_id,
       |         list_transform(codes, c -> mn + c * (mx - mn) / 255.0) AS v2
       |       FROM rc),
       |sa AS (SELECT q_id, vec_id,
       |         list_dot_product(qv, v2)
       |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v2, v2))) AS sc
       |       FROM rv JOIN q ON vec_id <> q_id),
       |ap AS (SELECT q_id, vec_id, rk AS apx_rank FROM (
       |         SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rk
       |         FROM sa) WHERE rk <= 10),
       |j AS (SELECT ap.q_id, ap.apx_rank, ex.rel
       |      FROM ap LEFT JOIN ex ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id)
       |SELECT q_id, count(rel)::BIGINT AS n_hits,
       |       coalesce(1000000 // min(CASE WHEN rel IS NOT NULL THEN apx_rank END),
       |                0)::BIGINT AS mrr_ppm,
       |       round(sum(CASE WHEN rel IS NOT NULL
       |                      THEN rel / log2(apx_rank + 1) ELSE 0.0 END) / $Idcg10,
       |             4) AS ndcg_4
       |FROM j GROUP BY 1""".stripMargin

  /** q306: classifier evaluation — confusion-marginal precision / recall /
    * F1 per class for the q77 kNN classifier run leave-one-out over the
    * WHOLE labeled corpus (self excluded by the knn join), in integer ppm:
    * the model-QA report that closes the loop on the classify tier the
    * same way q305 closes it on the retrieval tier. Zero-prediction and
    * zero-support classes are guarded to 0 explicitly (an integer
    * `div 0` would error on the oracle engine, null on Spark — the guard
    * pins one behavior).
    *
    * Scale shape: the knn pass is the broadcast-query brute-force tier
    * (queries = the labeled evaluation batch — model-sized by contract);
    * everything after is a |labels|-row contraction.
    */
  def q306ClassifierEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = stagedKnnLoo(spark, dir)
    val byTrue = pred.groupBy(col("true_label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_true"), sum(col("correct").cast("long")).as("tp"))
    val byPred = pred.groupBy(col("pred_label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    byTrue.join(byPred, Seq("label"), "full_outer")
      .na.fill(0L, Seq("n_true", "tp", "n_pred"))
      .withColumn("precision_ppm",
        expr("CASE WHEN n_pred = 0 THEN 0 ELSE (1000000 * tp) div n_pred END"))
      .withColumn("recall_ppm",
        expr("CASE WHEN n_true = 0 THEN 0 ELSE (1000000 * tp) div n_true END"))
      .withColumn("f1_ppm",
        expr("CASE WHEN precision_ppm + recall_ppm = 0 THEN 0" +
          " ELSE (2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm) END"))
  }

  private val q306Oracle =
    """WITH q AS (SELECT vec_id AS q_id, label AS true_label,
      |                  embedding::DOUBLE[] AS qv FROM embeddings),
      |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (SELECT q_id, true_label, vec_id, c.label AS lab,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sc
      |      FROM q JOIN c ON vec_id <> q_id),
      |r AS (SELECT q_id, true_label, lab,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rk
      |      FROM s),
      |v AS (SELECT q_id, true_label, lab, count(*)::BIGINT AS votes
      |      FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
      |p AS (SELECT q_id, true_label, lab AS pred_label FROM (
      |        SELECT q_id, true_label, lab,
      |          row_number() OVER (PARTITION BY q_id
      |                             ORDER BY votes DESC, lab ASC) AS rn
      |        FROM v) WHERE rn = 1),
      |bt AS (SELECT true_label AS label, count(*)::BIGINT AS n_true,
      |         sum((pred_label = true_label)::BIGINT)::BIGINT AS tp
      |       FROM p GROUP BY 1),
      |bp AS (SELECT pred_label AS label, count(*)::BIGINT AS n_pred
      |       FROM p GROUP BY 1),
      |m AS (SELECT label::BIGINT AS label,
      |        coalesce(n_true, 0)::BIGINT AS n_true, coalesce(tp, 0)::BIGINT AS tp,
      |        coalesce(n_pred, 0)::BIGINT AS n_pred
      |      FROM bt FULL OUTER JOIN bp USING (label)),
      |x AS (SELECT label, n_true, tp, n_pred,
      |        CASE WHEN n_pred = 0 THEN 0
      |             ELSE (1000000 * tp) // n_pred END::BIGINT AS precision_ppm,
      |        CASE WHEN n_true = 0 THEN 0
      |             ELSE (1000000 * tp) // n_true END::BIGINT AS recall_ppm
      |      FROM m)
      |SELECT label, n_true, tp, n_pred, precision_ppm, recall_ppm,
      |       CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
      |            ELSE (2 * precision_ppm * recall_ppm)
      |                   // (precision_ppm + recall_ppm) END::BIGINT AS f1_ppm
      |FROM x""".stripMargin

  /** q307: calibration / reliability report with ECE — the q306 companion
    * every scored classifier needs: the kNN vote share IS a confidence
    * (votes/k), so per confidence level the report lays empirical accuracy
    * beside stated confidence (both integer ppm) and rolls the expected
    * calibration error up as the n-weighted absolute gap — all on the
    * |k| = 5-row contraction of the leave-one-out predictions. An
    * over-confident tier shows up as conf ≫ acc on its own row rather
    * than hiding inside one corpus-wide accuracy number.
    */
  def q307Calibration(spark: SparkSession, dir: String): DataFrame = {
    val pred = stagedKnnLoo(spark, dir)
    val w = Window.partitionBy()
    pred.groupBy(col("votes"))
      .agg(count(lit(1)).as("n"), sum(col("correct").cast("long")).as("n_correct"))
      .withColumn("conf_ppm", expr("(1000000 * votes) div 5"))
      .withColumn("acc_ppm", expr("(1000000 * n_correct) div n"))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_ppm")))
      // ECE over the 5-row contraction: empty-frame window, bounded by k
      .withColumn("ece_ppm",
        (sum(col("n") * col("gap_ppm")).over(w) / sum(col("n")).over(w)).cast("long"))
      .select(col("votes").cast("long").as("votes"), col("n"), col("n_correct"),
        col("conf_ppm"), col("acc_ppm"), col("gap_ppm"), col("ece_ppm"))
  }

  private val q307Oracle =
    """WITH q AS (SELECT vec_id AS q_id, label AS true_label,
      |                  embedding::DOUBLE[] AS qv FROM embeddings),
      |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (SELECT q_id, true_label, vec_id, c.label AS lab,
      |        list_dot_product(qv, cv)
      |          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sc
      |      FROM q JOIN c ON vec_id <> q_id),
      |r AS (SELECT q_id, true_label, lab,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rk
      |      FROM s),
      |v AS (SELECT q_id, true_label, lab, count(*)::BIGINT AS votes
      |      FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
      |p AS (SELECT q_id, votes, (lab = true_label)::BIGINT AS correct FROM (
      |        SELECT q_id, true_label, lab, votes,
      |          row_number() OVER (PARTITION BY q_id
      |                             ORDER BY votes DESC, lab ASC) AS rn
      |        FROM v) WHERE rn = 1),
      |g AS (SELECT votes, count(*)::BIGINT AS n, sum(correct)::BIGINT AS n_correct
      |      FROM p GROUP BY 1),
      |t AS (SELECT sum(n)::BIGINT AS nt,
      |             sum(n * abs((1000000 * n_correct) // n
      |                         - (1000000 * votes) // 5))::BIGINT AS wgap
      |      FROM g)
      |SELECT votes, n, n_correct,
      |       (1000000 * votes) // 5 AS conf_ppm,
      |       (1000000 * n_correct) // n AS acc_ppm,
      |       abs((1000000 * n_correct) // n - (1000000 * votes) // 5) AS gap_ppm,
      |       (wgap // nt)::BIGINT AS ece_ppm
      |FROM g CROSS JOIN t""".stripMargin

  /** q308: Matryoshka truncation evaluation (Kusupati et al. 2022) — can
    * the first 16 of 64 embedding dimensions stand in for the full vector
    * in first-stage retrieval? Per query: recall@5 of the truncated
    * ranking against the full-dimension top-5 (integer ppm) and the mean
    * rank the true top-5 land at under truncation (ppm, absent → rank 51
    * — the list-length penalty, so a lost neighbor costs a bounded,
    * engine-exact amount). The decision report for MRL-style tiered
    * retrieval: serve the cheap prefix, re-rank with the full vector.
    *
    * Scale shape: `slice` is codegen'd per row before the broadcast-query
    * join; both arms end in bounded collectTopK heaps (truncated arm
    * keeps top-50 so the penalty assignment is a bounded left join, never
    * a rescan).
    */
  def q308MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = fanOut(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < 8)
    val full = exactTop5(spark, dir)
      .select(col("q_id"), col("vec_id"))
    val trunc16 = e.select(col("vec_id"),
      expr("slice(embedding, 1, 16)").as("embedding"))
    val qTrunc = q.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("embedding"))
    val apx = Similarity.bruteForceTopK(trunc16, qTrunc, k = 50)
      .select(col("q_id"), col("vec_id"), col("rank").as("t_rank"))
    full.join(apx, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(
        expr("(1000000 * sum(CASE WHEN t_rank <= 5 THEN 1 ELSE 0 END)) div 5")
          .as("recall5_ppm"),
        expr("(1000000 * sum(coalesce(t_rank, 51))) div 5").as("mean_true_rank_ppm"))
  }

  private val q308Oracle =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
      |sf AS (SELECT q_id, vec_id,
      |         list_dot_product(qv, v)
      |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sc
      |       FROM e JOIN q ON vec_id <> q_id),
      |fl AS (SELECT q_id, vec_id FROM (
      |         SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rk
      |         FROM sf) WHERE rk <= 5),
      |et AS (SELECT vec_id, v[1:16] AS v FROM e),
      |qt AS (SELECT q_id, qv[1:16] AS qv FROM q),
      |st AS (SELECT q_id, vec_id,
      |         list_dot_product(qv, v)
      |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sc
      |       FROM et JOIN qt ON vec_id <> q_id),
      |tr AS (SELECT q_id, vec_id, rk AS t_rank FROM (
      |         SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rk
      |         FROM st) WHERE rk <= 50)
      |SELECT fl.q_id,
      |       ((1000000 * sum(CASE WHEN t_rank <= 5 THEN 1 ELSE 0 END)) // 5)::BIGINT AS recall5_ppm,
      |       ((1000000 * sum(coalesce(t_rank, 51))) // 5)::BIGINT AS mean_true_rank_ppm
      |FROM fl LEFT JOIN tr ON fl.q_id = tr.q_id AND fl.vec_id = tr.vec_id
      |GROUP BY 1""".stripMargin

  /** q315: reshard-cost report — growing the shard count 8 → 12 under two
    * placement functions, from one hash pass: MODULO placement
    * (`u mod N`) re-homes nearly every key because the residue scrambles,
    * while CONSISTENT HASHING (Karger et al. 1997: each shard owns the
    * ring arc before its md5-placed token; growing keeps the original 8
    * tokens FIXED and only adds 4) moves exactly the keys inside the
    * arcs the new tokens steal — ≈ the 4/12 a minimal migration costs.
    * The report quantifies that bill per strategy — the reason
    * production shard layouts (and [[Sampling.shardAppend]]'s manifest)
    * avoid raw modulo: at 100 TB, "docs moved" is re-written bytes.
    * Clockwise-owner argmin ties break on the composite
    * `dist·100 + shard` so both engines pick the same owner.
    *
    * Scale shape: one scan; the 12-token ring broadcasts onto the doc
    * stream, owners reduce per doc with map-side combine, the verdict is
    * a 2-row aggregate.
    */
  def q315ReshardPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"),
        (Dedup.baseHash(col("doc_id").cast("string")) % 1000000).as("u"))
    val toks = d.sparkSession.range(12).select(col("id").as("shard"),
      (Dedup.baseHash(concat(lit("shard"), col("id").cast("string"))) % 1000000)
        .as("pos"))
    val owners = d.crossJoin(broadcast(toks))
      .withColumn("ord", expr("((pos - u + 1000000) % 1000000) * 100 + shard"))
      .groupBy("doc_id")
      .agg(expr("min_by(shard, CASE WHEN shard < 8 THEN ord END)").as("own8"),
        expr("min_by(shard, ord)").as("own12"))
    val ring = owners.agg(count(lit(1)).as("n_docs"),
      sum(when(col("own8") =!= col("own12"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit("ring").as("strategy"), col("n_docs"), col("n_moved"))
    val modulo = d.agg(count(lit(1)).as("n_docs"),
      sum(when(col("u") % 8 =!= col("u") % 12, 1L).otherwise(0L)).as("n_moved"))
      .select(lit("modulo").as("strategy"), col("n_docs"), col("n_moved"))
    modulo.unionAll(ring)
      .withColumn("moved_ppm", expr("(1000000 * n_moved) div n_docs"))
  }

  private val q315Oracle =
    """WITH d AS (SELECT doc_id,
      |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      |               % 1000000 AS u
      |           FROM documents),
      |tk AS (SELECT s AS shard,
      |         ('0x' || substr(md5('shard' || s), 1, 15))::BIGINT % 1000000 AS pos
      |       FROM (SELECT unnest(range(0, 12)) AS s)),
      |x AS (SELECT doc_id, u, shard,
      |        ((pos - u + 1000000) % 1000000) * 100 + shard AS ord
      |      FROM d CROSS JOIN tk),
      |own AS (SELECT doc_id,
      |          arg_min(shard, CASE WHEN shard < 8 THEN ord END) AS own8,
      |          arg_min(shard, ord) AS own12
      |        FROM x GROUP BY 1)
      |SELECT 'modulo' AS strategy, count(*)::BIGINT AS n_docs,
      |       sum((u % 8 <> u % 12)::BIGINT)::BIGINT AS n_moved,
      |       ((1000000 * sum((u % 8 <> u % 12)::BIGINT)) // count(*))::BIGINT AS moved_ppm
      |FROM d
      |UNION ALL
      |SELECT 'ring', count(*)::BIGINT,
      |       sum((own8 <> own12)::BIGINT)::BIGINT,
      |       ((1000000 * sum((own8 <> own12)::BIGINT)) // count(*))::BIGINT
      |FROM own""".stripMargin

  /** q326: language-ID evaluation — the q306 protocol applied to the text
    * tier: the q40 stopword classifier's guesses laid against the
    * DECLARED `lang` column as a full confusion matrix with overall
    * accuracy in ppm. The heuristic's failure geography (which language
    * pairs it confuses, what `und` absorbs) is the actionable output —
    * a single accuracy number would hide it.
    *
    * Scale shape: the per-doc guess is the same shuffle-free codegen'd
    * expression q40 runs; the matrix is a |langs|²-bounded aggregate.
    */
  def q326LangidEval(spark: SparkSession, dir: String): DataFrame = {
    val scores = TextAnalysis.langScores(col("text"))
    val pred = fanOut(documents(spark, dir)).select(
      col("lang"), TextAnalysis.langGuess(scores).as("lang_guess"))
    val w = Window.partitionBy()
    pred.groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
      .withColumn("n_total", sum(col("n")).over(w))
      .withColumn("n_correct",
        sum(when(col("lang") === col("lang_guess"), col("n")).otherwise(0L)).over(w))
      .select(col("lang"), col("lang_guess"), col("n"),
        expr("(1000000 * n_correct) div n_total").as("accuracy_ppm"))
  }

  private def q326Oracle: String = {
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val cases = langs.map { l =>
      val conds = langs.filterNot(_ == l)
        .map(o => s"${l}_hits >= ${o}_hits").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n         ")
    s"""WITH h AS (SELECT doc_id, lang,
       |        ${langs.map(l => s"${dHits(l)} AS ${l}_hits").mkString(",\n        ")}
       |           FROM documents),
       |g AS (SELECT lang, CASE $cases ELSE 'und' END AS lang_guess FROM h),
       |c AS (SELECT lang, lang_guess, count(*)::BIGINT AS n FROM g GROUP BY 1, 2),
       |t AS (SELECT sum(n)::BIGINT AS n_total,
       |             sum(CASE WHEN lang = lang_guess THEN n ELSE 0 END)::BIGINT
       |               AS n_correct
       |      FROM c)
       |SELECT lang, lang_guess, n,
       |       (1000000 * n_correct) // n_total AS accuracy_ppm
       |FROM c CROSS JOIN t""".stripMargin
  }

  /** q327: duplication × quality cross-tab — the curation question the
    * dedup and quality tiers answer only together: ARE duplicates
    * low-quality? Per quality decile (q41's score, ×10⁴ then floored to
    * 10 buckets), the fraction of docs sitting in an exact-duplicate
    * group (copies ≥ 2) in ppm. If the low deciles carry the duplicate
    * mass, dedup and quality filtering overlap and the combined keep-rate
    * is NOT the product of the individual ones — the interaction this
    * table makes visible before anyone multiplies filter rates.
    *
    * Scale shape: one corpus scan; group size via a window over the
    * fingerprint partition (one fp shuffle, no second scan, no join);
    * the cross-tab is a 10-row aggregate.
    */
  def q327DupQualityCross(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val nTok = TextAnalysis.tokenCount(text)
    val punct = TextAnalysis.punctCount(text)
    val stop = TextAnalysis.stopwordHits(
      TextAnalysis.tokens(text), TextAnalysis.LangStopwords.head._2)
    val docs = fanOut(documents(spark, dir)).select(
      TextAnalysis.qualityScore(nTok, punct, stop, col("n_chars")).as("quality"),
      TextAnalysis.md5Fingerprint(text).as("fp"))
    docs
      .withColumn("copies", count(lit(1)).over(Window.partitionBy("fp")))
      .withColumn("bucket",
        expr("least(cast(round(quality * 10000, 0) AS bigint) div 1000, 9)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("copies") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_docs"))
  }

  private def q327Oracle: String = {
    val en = dHits("en")
    s"""WITH c AS (SELECT doc_id, md5($DNorm) AS fp,
       |        len(string_split($DNorm, ' '))::INT AS n_tokens,
       |        len(regexp_extract_all(text, '[.,!?;:]'))::INT AS punct,
       |        $en AS stop_hits
       |      FROM documents),
       |q AS (SELECT fp,
       |        round(0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
       |            + 0.4 * (1.0 - least(1.0, punct::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)))
       |            + 0.3 * least(1.0, 4.0 * stop_hits::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)), 4)
       |          AS quality
       |      FROM c),
       |w AS (SELECT quality, count(*) OVER (PARTITION BY fp) AS copies FROM q),
       |b AS (SELECT least(round(quality * 10000)::BIGINT // 1000, 9) AS bucket,
       |             (copies >= 2)::BIGINT AS is_dup
       |      FROM w)
       |SELECT bucket, count(*)::BIGINT AS n_docs, sum(is_dup)::BIGINT AS n_dup,
       |       ((1000000 * sum(is_dup)) // count(*))::BIGINT AS dup_ppm
       |FROM b GROUP BY 1""".stripMargin
  }

  /** q328: cross-modality QA — Spearman rank correlation between a
    * document's embedding energy (q195's integer squared norm) and its
    * text quality (q41's score): degenerate embeddings co-occurring with
    * junk text means the embedding pipeline inherited the corpus's
    * quality problem, and norm-filtering would double-count the quality
    * filter. Tie-free rank permutations via the (value, doc_id) break, so
    * the exact d² identity `ρ = 10⁶ − 6·Σd²·10⁶ div (n(n²−1))` applies
    * BIGINT end to end (the q284 discipline, here across TWO tables).
    *
    * Scale shape: one scan each side, an id-equi join, two
    * [[RangeRank.rank]] passes (range-partitioned two-pass ranks — no
    * single-partition global window) over the |docs-with-embeddings|
    * contraction, a 1-row statistic.
    */
  def q328ModalityQa(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val nTok = TextAnalysis.tokenCount(text)
    val punct = TextAnalysis.punctCount(text)
    val stop = TextAnalysis.stopwordHits(
      TextAnalysis.tokens(text), TextAnalysis.LangStopwords.head._2)
    val qdocs = documents(spark, dir).select(col("doc_id"),
      (round(TextAnalysis.qualityScore(nTok, punct, stop, col("n_chars")) * 10000, 0))
        .cast("long").as("q4"))
    val norms = embeddings(spark, dir).select(col("vec_id").as("doc_id"),
      expr(
        """aggregate(
          |  transform(embedding, v -> CAST(floor(CAST(v AS double) * 1000) AS bigint)),
          |  0L, (a, x) -> a + x * x)""".stripMargin).as("nq"))
    val j = qdocs.join(norms, "doc_id")
    val ra = RangeRank.rank(j, Seq(col("q4").asc, col("doc_id").asc), "ra")
    RangeRank.rank(ra, Seq(col("nq").asc, col("doc_id").asc), "rb")
      .withColumn("d2", (col("ra") - col("rb")) * (col("ra") - col("rb")))
      .agg(count(lit(1)).as("n_docs"), sum(col("d2")).as("sum_d2"))
      .select(col("n_docs"), col("sum_d2"),
        expr("1000000 - (6 * sum_d2 * 1000000) div (n_docs * (n_docs * n_docs - 1))")
          .as("rho_ppm"))
  }

  private def q328Oracle: String = {
    val en = dHits("en")
    s"""WITH c AS (SELECT doc_id,
       |        len(string_split($DNorm, ' '))::INT AS n_tokens,
       |        len(regexp_extract_all(text, '[.,!?;:]'))::INT AS punct,
       |        $en AS stop_hits
       |      FROM documents),
       |q AS (SELECT doc_id,
       |        round(10000 * (0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
       |            + 0.4 * (1.0 - least(1.0, punct::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)))
       |            + 0.3 * least(1.0, 4.0 * stop_hits::DOUBLE / greatest(n_tokens::DOUBLE, 1.0))
       |          ))::BIGINT AS q4
       |      FROM c),
       |nm AS (SELECT vec_id AS doc_id,
       |         list_sum(list_transform(embedding,
       |           v -> floor(v::DOUBLE * 1000)::BIGINT * floor(v::DOUBLE * 1000)::BIGINT
       |         ))::BIGINT AS nq
       |       FROM embeddings),
       |j AS (SELECT q.doc_id, q4, nq FROM q JOIN nm USING (doc_id)),
       |r AS (SELECT
       |        row_number() OVER (ORDER BY q4 ASC, doc_id ASC) AS ra,
       |        row_number() OVER (ORDER BY nq ASC, doc_id ASC) AS rb
       |      FROM j),
       |a AS (SELECT count(*)::BIGINT AS n_docs,
       |             sum((ra - rb) * (ra - rb))::BIGINT AS sum_d2 FROM r)
       |SELECT n_docs, sum_d2,
       |       1000000 - (6 * sum_d2 * 1000000) // (n_docs * (n_docs * n_docs - 1))
       |         AS rho_ppm
       |FROM a""".stripMargin
  }

  /** q332: content-defined chunk dedup ([[Dedup.cdcChunks]]) — per-source
    * chunk-level duplication report. Documents are split at content-defined
    * boundaries (md5-gated tokens, expected run length 8), each chunk
    * fingerprinted, and the per-source report counts total vs distinct
    * chunk fingerprints corpus-wide: the dedup signal whole-document
    * fingerprints (q20) and even MinHash (q21) miss — long shared RUNS
    * inside otherwise-distinct documents (boilerplate paragraphs, quoted
    * replies, re-crawled page sections), surfaced without any pairwise
    * comparison. `n_uniq` counts a fingerprint once per source it appears
    * in, so `dup_ppm` is the WITHIN-source chunk redundancy; the
    * cross-source contamination view of the same fingerprints is q48's
    * machinery.
    *
    * Scale shape: [[Dedup.cdcChunks]]'s one doc-keyed shuffle, then a
    * chunk-fingerprint groupBy with map-side combine — tier-1 dedup cost
    * on chunk granularity.
    */
  def q332CdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunks(fanOut(documents(spark, dir)), boundaryMod = 8)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_uniq"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("dup_ppm",
        expr("(1000000 * (n_chunks - n_uniq)) div n_chunks"))

  /** DuckDB CTE chain replaying [[Dedup.cdcChunks]] over `documents WHERE
    * pred` — the terminal CTE `g$sfx` holds (doc_id, source, chunk_idx,
    * n_tok, fp). Shared by q332 (whole corpus) and q339 (base/delta
    * snapshots) so the chunking recurrence cannot fork between gates.
    */
  private def cdcChunkCte(sfx: String, pred: String): String =
    s"""tk$sfx AS (SELECT doc_id, source, toks[i] AS term, i AS pos
       |            FROM (SELECT doc_id, source, string_split($DNorm, ' ') AS toks
       |                  FROM documents WHERE $pred),
       |                 unnest(range(1, len(toks) + 1)) AS t(i)
       |            WHERE toks[i] <> ''),
       |b$sfx AS (SELECT doc_id, source, pos, term,
       |        (('0x' || substr(md5(term), 1, 15))::BIGINT % 8 = 0)::BIGINT AS bdry
       |      FROM tk$sfx),
       |c$sfx AS (SELECT doc_id, source, term, pos,
       |        coalesce(sum(bdry) OVER (PARTITION BY doc_id ORDER BY pos ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |      FROM b$sfx),
       |g$sfx AS (SELECT doc_id, source, chunk_idx, count(*)::BIGINT AS n_tok,
       |        md5(string_agg(term, ' ' ORDER BY pos ASC)) AS fp
       |      FROM c$sfx GROUP BY 1, 2, 3)""".stripMargin

  private def q332Oracle: String =
    s"""WITH ${cdcChunkCte("", "TRUE")}
       |SELECT source, count(*)::BIGINT AS n_chunks,
       |       count(DISTINCT fp)::BIGINT AS n_uniq,
       |       sum(n_tok)::BIGINT AS n_tokens,
       |       ((1000000 * (count(*) - count(DISTINCT fp))) // count(*))::BIGINT AS dup_ppm
       |FROM g GROUP BY 1""".stripMargin

  /** q333: embedding-dimension covariance/correlation profile — exact
    * scaled-integer second moments over the first 6 dimensions (21
    * unordered pairs): `scov = n·Σxy − Σx·Σy` on `floor(v·10³)`
    * quantization, with the correlation in integer per-mille via
    * floor-sqrt standard deviations. The embedding-health screen next to
    * q195's norm profile: a pair of dimensions with |corr| near 1000 is a
    * collapsed/duplicated feature direction (dead encoder units, rank
    * collapse), and a profile drift between two corpus snapshots flags an
    * embedding-model change upstream. IEEE sqrt is correctly rounded and
    * both engines floor the same BIGINT→DOUBLE conversion, so `corr_pm`
    * is bit-equal cross-engine; `scov` itself never leaves BIGINT
    * (|q| ≤ ~10³ ⇒ n·Σxy fits until n ~ 10¹²).
    *
    * Scale shape: ONE full-corpus aggregate producing a 28-field row
    * (count + 6 sums + 21 product sums, all map-side combined), then the
    * 21 pair rows are derived from that single row — the data pass is
    * O(corpus), the pair algebra is O(dims²) on one row. No joins, no
    * window, no shuffle beyond the one agg.
    */
  def q333CovarianceProfile(spark: SparkSession, dir: String): DataFrame = {
    val dims = 1 to 6
    val pairs = for { i <- dims; j <- dims if j >= i } yield (i, j)
    val qCols = dims.map(i =>
      floor(element_at(col("embedding"), i).cast("double") * 1000)
        .cast("long").as(s"q$i"))
    val sums = dims.map(i => sum(col(s"q$i")).as(s"s$i"))
    val prods = pairs.map { case (i, j) =>
      sum(col(s"q$i") * col(s"q$j")).as(s"p${i}_$j") }
    val agg = embeddings(spark, dir).select(qCols: _*)
      .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
    val pairRows = pairs.map { case (i, j) =>
      struct(lit(i).as("dim_i"), lit(j).as("dim_j"), col("n"),
        col(s"s$i").as("sx"), col(s"s$j").as("sy"),
        col(s"p${i}_$j").as("sxy"),
        col(s"p${i}_$i").as("sxx"), col(s"p${j}_$j").as("syy"))
    }
    agg.select(explode(array(pairRows: _*)).as("r")).select(col("r.*"))
      .withColumn("scov", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("__vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("__vy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("__sdx", floor(sqrt(col("__vx").cast("double"))).cast("long"))
      .withColumn("__sdy", floor(sqrt(col("__vy").cast("double"))).cast("long"))
      // negative numerators are safe here: DuckDB's integer `//` truncates
      // toward zero exactly like Spark's `div` (verified; the holtFdiv CASE
      // is only needed where one side FLOORS — e.g. HUGEINT paths)
      .withColumn("corr_pm",
        expr("CASE WHEN __sdx * __sdy = 0 THEN NULL " +
          "ELSE (1000 * scov) div (__sdx * __sdy) END"))
      .select(col("dim_i"), col("dim_j"), col("n"), col("scov"), col("corr_pm"))
  }

  private def q333Oracle: String = {
    val dims = 1 to 6
    val pairs = for { i <- dims; j <- dims if j >= i } yield (i, j)
    val sums = dims.map(i => s"sum(v[$i])::BIGINT AS s$i")
    val prods = pairs.map { case (i, j) => s"sum(v[$i] * v[$j])::BIGINT AS p${i}_$j" }
    val branches = pairs.map { case (i, j) =>
      s"""SELECT $i AS dim_i, $j AS dim_j, n,
         |       (n * p${i}_$j - s$i * s$j)::BIGINT AS scov,
         |       CASE WHEN floor(sqrt((n * p${i}_$i - s$i * s$i)::DOUBLE))::BIGINT
         |                 * floor(sqrt((n * p${j}_$j - s$j * s$j)::DOUBLE))::BIGINT = 0
         |            THEN NULL
         |            ELSE ((1000 * (n * p${i}_$j - s$i * s$j))
         |              // (floor(sqrt((n * p${i}_$i - s$i * s$i)::DOUBLE))::BIGINT
         |                * floor(sqrt((n * p${j}_$j - s$j * s$j)::DOUBLE))::BIGINT))::BIGINT
         |       END AS corr_pm
         |FROM a""".stripMargin
    }
    s"""WITH q AS (SELECT list_transform(embedding::DOUBLE[],
       |             x -> floor(x * 1000)::BIGINT) AS v FROM embeddings),
       |a AS (SELECT count(*)::BIGINT AS n,
       |        ${(sums ++ prods).mkString(",\n        ")}
       |      FROM q)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q357: leading principal component of the embedding covariance —
    * integer power iteration on q333's exact second moments: 12 rounds of
    * `w = C·v`, max-abs renormalization to ±10⁵, and a final Rayleigh
    * quotient `⌊v·Cv / v·v⌋` — the dominant variance direction that tells
    * a curation pipeline whether the embedding space has collapsed onto
    * one axis (one giant eigenvalue) or spreads (q333 shows PAIRWISE
    * structure; this is the SPECTRAL summary). Every division truncates
    * toward zero in both engines, so the recurrence is replayed, not
    * approximated: the covariance is pre-scaled by `div n²` (bounding
    * entries by the data's variance scale regardless of corpus size — at
    * 100 TB the matrix entries stay ~10⁶, no overflow), the ±10⁵ vector
    * scale keeps `10⁵·w` far inside long range.
    *
    * Scale shape: ONE map-side-combined 28-field aggregate over the
    * embedding scan (identical to q333's), then the 6×6 matrix is a
    * bounded collected MODEL and the O(k²·rounds) iteration runs
    * driver-side where it belongs (q334's precedent). The oracle replays
    * the same 12 rounds as generated unrolled CTEs.
    */
  def q357PowerIteration(spark: SparkSession, dir: String): DataFrame = {
    val dims = 1 to 6
    val pairs = for { i <- dims; j <- dims if j >= i } yield (i, j)
    val qCols = dims.map(i =>
      floor(element_at(col("embedding"), i).cast("double") * 1000)
        .cast("long").as(s"q$i"))
    val sums = dims.map(i => sum(col(s"q$i")).as(s"s$i"))
    val prods = pairs.map { case (i, j) =>
      sum(col(s"q$i") * col(s"q$j")).as(s"p${i}_$j") }
    val row = embeddings(spark, dir).select(qCols: _*)
      .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
      .collect()(0)
    val n = row.getAs[Long]("n")
    val s = dims.map(i => row.getAs[Long](s"s$i")).toArray
    def p(i: Int, j: Int): Long =
      row.getAs[Long](s"p${math.min(i, j)}_${math.max(i, j)}")
    val c = Array.tabulate(6, 6)((a, b) =>
      (n * p(a + 1, b + 1) - s(a) * s(b)) / (n * n))
    def mul(v: Array[Long]): Array[Long] =
      Array.tabulate(6)(a => (0 until 6).map(b => c(a)(b) * v(b)).sum)
    var v = Array.fill(6)(100000L)
    for (_ <- 1 to 12) {
      val w = mul(v)
      val m = math.max(w.map(math.abs).max, 1L)
      v = w.map(x => 100000L * x / m)
    }
    val w = mul(v)
    val eig = v.zip(w).map { case (a, b) => a * b }.sum /
      math.max(v.map(x => x * x).sum, 1L)
    import spark.implicits._
    dims.map(i => (i.toLong, v(i - 1), eig)).toDF("dim", "vec_1e5", "eig_c")
  }

  private def q357Oracle: String = {
    val dims = 1 to 6
    def pn(i: Int, j: Int) = s"p${math.min(i, j)}_${math.max(i, j)}"
    val pairs = for { i <- dims; j <- dims if j >= i } yield (i, j)
    val sums = dims.map(i => s"sum(v[$i])::BIGINT AS s$i")
    val prods = pairs.map { case (i, j) => s"sum(v[$i] * v[$j])::BIGINT AS ${pn(i, j)}" }
    val cRows = (for { i <- dims; j <- dims } yield
      s"SELECT $i AS i, $j AS j, ((n * ${pn(i, j)} - s$i * s$j) // (n * n))::BIGINT AS cij FROM a"
      ).mkString("\nUNION ALL\n")
    val v0 = dims.map(i => s"SELECT $i AS i, 100000::BIGINT AS val").mkString(" UNION ALL ")
    val rounds = (1 to 12).map { r =>
      s"""w$r AS MATERIALIZED (SELECT c.i AS i, sum(c.cij * v${r - 1}.val)::BIGINT AS w
         |  FROM c JOIN v${r - 1} ON c.j = v${r - 1}.i GROUP BY 1),
         |m$r AS (SELECT greatest(max(abs(w)), 1)::BIGINT AS m FROM w$r),
         |v$r AS MATERIALIZED (SELECT i, ((100000 * w) // m)::BIGINT AS val
         |  FROM w$r CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT list_transform(embedding::DOUBLE[],
       |             x -> floor(x * 1000)::BIGINT) AS v FROM embeddings),
       |a AS MATERIALIZED (SELECT count(*)::BIGINT AS n,
       |        ${(sums ++ prods).mkString(",\n        ")}
       |      FROM q),
       |c AS MATERIALIZED ($cRows),
       |v0 AS ($v0),
       |$rounds,
       |wf AS MATERIALIZED (SELECT c.i AS i, sum(c.cij * v12.val)::BIGINT AS w
       |  FROM c JOIN v12 ON c.j = v12.i GROUP BY 1),
       |r AS (SELECT (sum(a.val * b.w))::BIGINT AS num,
       |             greatest(sum(a.val * a.val), 1)::BIGINT AS den
       |      FROM v12 a JOIN wf b ON a.i = b.i)
       |SELECT v12.i::BIGINT AS dim, v12.val::BIGINT AS vec_1e5,
       |       (r.num // r.den)::BIGINT AS eig_c
       |FROM v12 CROSS JOIN r""".stripMargin
  }

  /** q339: INCREMENTAL chunk-level dedup across crawl snapshots — the
    * operation [[Dedup.cdcChunks]] exists to enable: yesterday's corpus
    * (the ~75% of docs outside the q44 md5 gate — hash-distributed, so
    * every source contributes to both snapshots) provides the known-chunk
    * fingerprint set; today's delta (the gated ~25%) chunks against it,
    * and the per-source report
    * counts how many delta chunks (and tokens) are REUSE — already stored,
    * skippable — versus genuinely new. Because boundaries are
    * content-defined, a re-crawled page with one edited paragraph
    * re-fingerprints every untouched chunk identically and scores ~full
    * reuse; fixed-width chunking would shift every boundary after the
    * edit and report it all as new (the q332 edit-locality property, now
    * doing its production job).
    *
    * Scale shape: two cdcChunks passes (each one doc-keyed shuffle); the
    * reuse check is a LEFT ANTI hash join on the chunk fingerprint
    * against the base's distinct-fp contraction — tier-1 join cost, no
    * pairwise anything.
    */
  def q339ChunkIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    val gate = Sampling.hashGate(col("doc_id"), fraction = 0.25)
    val baseFp = Dedup.cdcChunks(docs.filter(!gate), boundaryMod = 8)
      .select("fp").distinct()
    val delta = Dedup.cdcChunks(docs.filter(gate), boundaryMod = 8)
    val fresh = delta.join(baseFp, Seq("fp"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_new"), sum(col("n_tokens")).as("new_tokens"))
    delta.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("n_tokens"))
      .join(fresh, Seq("source"), "left")
      .select(col("source"), col("n_chunks"), col("n_tokens"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
      .withColumn("reuse_ppm",
        expr("(1000000 * (n_tokens - new_tokens)) div n_tokens"))
  }

  private val q339Threshold: Long = (0.25 * (1L << 60).toDouble).toLong

  private def q339Oracle: String =
    s"""WITH ${cdcChunkCte("b", s"('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT >= $q339Threshold")},
       |${cdcChunkCte("d", s"('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT < $q339Threshold")},
       |bf AS (SELECT DISTINCT fp FROM gb)
       |SELECT source, count(*)::BIGINT AS n_chunks, sum(n_tok)::BIGINT AS n_tokens,
       |       sum((bf.fp IS NULL)::BIGINT)::BIGINT AS n_new,
       |       sum(CASE WHEN bf.fp IS NULL THEN n_tok ELSE 0 END)::BIGINT AS new_tokens,
       |       ((1000000 * sum(CASE WHEN bf.fp IS NOT NULL THEN n_tok ELSE 0 END))
       |          // sum(n_tok))::BIGINT AS reuse_ppm
       |FROM gd LEFT JOIN bf ON gd.fp = bf.fp
       |GROUP BY 1""".stripMargin

  /** q340: KMV (k-minimum-values) set-overlap sketch — per source-pair
    * union-size and Jaccard ESTIMATES from 64-value bottom-k sketches of
    * the 57-bit document-fingerprint hash space (Bar-Yossef et al. 2002;
    * Beyer et al. SIGMOD 2007 `(k−1)·M div t` unbiased union estimator),
    * published beside the exact Jaccard so the sketch's error is itself
    * machine-checked. THE mergeable-sketch answer to "how much do two
    * 100 TB sources overlap?": each source carries 64 longs of state
    * (vs HLL this also gives intersection/Jaccard, not just cardinality),
    * sketches merge by sorted-union-truncate, and the estimate is exact
    * integer arithmetic — deterministic cross-engine, no float anywhere.
    * When the union of two sketches holds fewer than k values both sides
    * are fully enumerated and the "estimates" collapse to exact values
    * (the small-set regime), which both engines also replay identically.
    *
    * Scale shape: per-source bottom-64 is bounded window state on the
    * distinct-hash contraction; the pair stage cross-joins |sources|
    * 64-long ARRAYS (model-sized rows), so pair cost is |sources|²·k —
    * independent of corpus size. The exact-Jaccard gate column joins the
    * full hash sets once (fixture-affordable; at production scale you
    * ship only the sketch columns — the exact side is the verification
    * harness, the q229/q230 discipline).
    */
  def q340KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val maxEst = 63L << 57 // (k-1)·2^57 — fits BIGINT; 2^60 would not
    val hs = fanOut(documents(spark, dir))
      .select(col("source"),
        Dedup.baseHash(TextAnalysis.normalize(col("text"))).as("__h60"))
      .withColumn("h", expr("__h60 div 8")) // 57-bit space
      .select("source", "h").distinct()
    val n = hs.groupBy("source").agg(count(lit(1)).as("n"))
    // bottom-k per source via the BOUNDED-STATE heap aggregate (k longs of
    // state per group, merged map-side) — a row_number window would ship
    // every source's full hash set to one task before discarding all but k
    val sk = hs.groupBy("source")
      .agg(sort_array(graft.functions.GraftFunctions
        .collectTopK(col("h"), k, reverse = true)).as("sk"))
      .join(n, "source")
    val pairs = sk.toDF("sa", "ska", "na").crossJoin(sk.toDF("sb", "skb", "nb"))
      .filter(col("sa") < col("sb"))
    val inter = hs.toDF("sa", "h").join(hs.toDF("sb", "h2"),
        col("h") === col("h2") && col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq("sa", "sb"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("u", array_sort(array_union(col("ska"), col("skb"))))
      .withColumn("n_u", size(col("u")).cast("long"))
      .withColumn("su", slice(col("u"), 1, k))
      .withColumn("t", element_at(col("u"), least(col("n_u"), lit(k.toLong)).cast("int")))
      .withColumn("both_topk",
        size(array_intersect(col("su"),
          array_intersect(col("ska"), col("skb")))).cast("long"))
      .withColumn("union_est",
        when(col("n_u") < k, col("n_u"))
          .otherwise(expr(s"$maxEst div greatest(t, 1)")))
      .withColumn("jacc_est_ppm",
        expr(s"(1000000 * both_topk) div CASE WHEN n_u < $k THEN n_u ELSE $k END"))
      .withColumn("jacc_exact_ppm",
        expr("(1000000 * inter) div (na + nb - inter)"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_u"), col("union_est"), col("jacc_est_ppm"), col("jacc_exact_ppm"))
  }

  private def q340Oracle: String =
    s"""WITH hs AS (SELECT DISTINCT source,
       |              ('0x' || substr(md5($DNorm), 1, 15))::BIGINT // 8 AS h
       |            FROM documents),
       |n AS (SELECT source, count(*)::BIGINT AS n FROM hs GROUP BY 1),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
       |       FROM hs),
       |sk AS (SELECT source, h FROM rk WHERE rk <= 64),
       |prs AS (SELECT a.source AS sa, b.source AS sb
       |        FROM n a JOIN n b ON a.source < b.source),
       |uh AS (SELECT p.sa, p.sb, s.h
       |       FROM prs p JOIN sk s ON s.source IN (p.sa, p.sb)
       |       GROUP BY 1, 2, 3),
       |ur AS (SELECT sa, sb, h,
       |         row_number() OVER (PARTITION BY sa, sb ORDER BY h ASC) AS rk,
       |         count(*) OVER (PARTITION BY sa, sb) AS n_u
       |       FROM uh),
       |su AS (SELECT sa, sb, h, n_u FROM ur WHERE rk <= 64),
       |tt AS (SELECT sa, sb, max(h) AS t, max(n_u)::BIGINT AS n_u FROM su GROUP BY 1, 2),
       |ix AS (SELECT su.sa, su.sb, count(*)::BIGINT AS both_topk
       |       FROM su JOIN sk x ON x.source = su.sa AND x.h = su.h
       |               JOIN sk y ON y.source = su.sb AND y.h = su.h
       |       GROUP BY 1, 2),
       |ex AS (SELECT x.source AS sa, y.source AS sb, count(*)::BIGINT AS inter
       |       FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
       |       GROUP BY 1, 2)
       |SELECT tt.sa AS source_a, tt.sb AS source_b, tt.n_u,
       |       (CASE WHEN tt.n_u < 64 THEN tt.n_u
       |             ELSE ${63L << 57} // greatest(tt.t, 1) END)::BIGINT AS union_est,
       |       ((1000000 * coalesce(ix.both_topk, 0))
       |          // CASE WHEN tt.n_u < 64 THEN tt.n_u ELSE 64 END)::BIGINT AS jacc_est_ppm,
       |       ((1000000 * coalesce(ex.inter, 0))
       |          // (na.n + nb.n - coalesce(ex.inter, 0)))::BIGINT AS jacc_exact_ppm
       |FROM tt
       |LEFT JOIN ix ON ix.sa = tt.sa AND ix.sb = tt.sb
       |LEFT JOIN ex ON ex.sa = tt.sa AND ex.sb = tt.sb
       |JOIN n na ON na.source = tt.sa
       |JOIN n nb ON nb.source = tt.sb""".stripMargin

  /** q341: the THIRTEENTH streaming gate — KMV sketch maintenance
    * ([[graft.streaming.CdcStream.kmvStream]]). The corpus streams in as
    * two md5-gated micro-batches; each folds its (source, 57-bit
    * fingerprint hash) rows into the persisted per-source bottom-64
    * sketch by sorted-union-truncate — the idempotent semilattice merge
    * that makes sketch state safe under at-least-once replay with no
    * correction terms (the [[graft.queries.EventQueries]] q292 bitmap
    * argument, now for an ESTIMATING structure). The gate: streamed
    * sketch state must land exactly on q340's batch bottom-k, so the
    * published per-source distinct ESTIMATE (exact below k, the
    * Beyer et al. `(k−1)·M div t` form at k) replays bit-identically in
    * the oracle — mergeability, replay-safety and estimator arithmetic
    * all machine-checked in one row set.
    */
  def q341StreamKmvSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val docs = documents(spark, dir)
    val inDir = Staging.streamInput("q341", dir) {
      val gate = Sampling.hashGate(col("doc_id"), fraction = 0.5)
      Seq(docs.filter(gate), docs.filter(!gate))
    }
    val work = Scratch.stableDir("q341-work-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(col("source"),
        Dedup.baseHash(TextAnalysis.normalize(col("text"))).as("__h60"))
      .withColumn("h", expr("__h60 div 8"))
      .select("source", "h")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType))))
    graft.streaming.CdcStream.drain(
      graft.streaming.CdcStream.kmvStream(stream, empty, stateDir = s"$work/state", k = 64),
      s"$work/ckpt")
    val maxEst = 63L << 57
    val sk = graft.streaming.CdcStream.currentMaterializedState(spark, s"$work/state")
    val n = fanOut(docs)
      .select(col("source"),
        Dedup.baseHash(TextAnalysis.normalize(col("text"))).as("__h60"))
      .withColumn("h", expr("__h60 div 8"))
      .select("source", "h").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_exact"))
    sk.groupBy("source")
      .agg(count(lit(1)).as("k_held"), max(col("h")).as("__t"))
      .withColumn("est_distinct",
        when(col("k_held") < 64, col("k_held"))
          .otherwise(expr(s"$maxEst div greatest(__t, 1)")))
      .join(n, "source")
      .select(col("source"), col("k_held"), col("est_distinct"), col("n_exact"))
  }

  private def q341Oracle: String =
    s"""WITH hs AS (SELECT DISTINCT source,
       |              ('0x' || substr(md5($DNorm), 1, 15))::BIGINT // 8 AS h
       |            FROM documents),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
       |       FROM hs),
       |sk AS (SELECT source, h FROM rk WHERE rk <= 64),
       |a AS (SELECT source, count(*)::BIGINT AS k_held, max(h) AS t FROM sk GROUP BY 1),
       |n AS (SELECT source, count(*)::BIGINT AS n_exact FROM hs GROUP BY 1)
       |SELECT a.source, k_held,
       |       (CASE WHEN k_held < 64 THEN k_held
       |             ELSE ${63L << 57} // greatest(t, 1) END)::BIGINT AS est_distinct,
       |       n.n_exact
       |FROM a JOIN n USING (source)""".stripMargin

  /** q369: FOURTEENTH streaming gate — Misra-Gries heavy-hitter
    * maintenance ([[graft.streaming.CdcStream.mgStream]]): the token
    * firehose of the document corpus streams in two mtime-ordered
    * micro-batches (the deterministic md5 half-split), the ≤16-counter
    * summary folds under [[graft.streaming.CdcStream.versionedFold]],
    * and the gate checks BOTH the exact streamed counters (the oracle
    * replays the identical two-batch add-then-subtract fold — state is
    * batch-split-dependent, so the replay must follow the same split)
    * AND the theorem: for the top-10 exact tokens,
    * `mg ≤ exact` and `exact − mg ≤ n_total div (k+1)` — the
    * mergeable-summaries guarantee that makes a 16-row state an honest
    * answer over an unbounded, 100 TB-scale token stream. k=16 sits
    * BELOW the fixture's 31-token vocabulary, so the subtraction rung
    * actually fires and the undercount is real, not vacuous.
    */
  def q369StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val docs = documents(spark, dir)
    val inDir = Staging.streamInput("q369", dir) {
      val gate = Sampling.hashGate(col("doc_id"), fraction = 0.5)
      Seq(docs.filter(gate), docs.filter(!gate))
    }
    val work = Scratch.stableDir("q369-work-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType))))
    graft.streaming.CdcStream.drain(
      graft.streaming.CdcStream.mgStream(stream, empty, stateDir = s"$work/state", k = 16),
      s"$work/ckpt")
    val mg = graft.streaming.CdcStream
      .currentMaterializedState(spark, s"$work/state")
    val toks = fanOut(docs)
      .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
    val exact = toks.groupBy("item").agg(count(lit(1)).as("exact_n"))
    val nTot = toks.agg(count(lit(1)).as("n_total"))
    exact.orderBy(col("exact_n").desc, col("item").asc).limit(10)
      .join(mg.withColumnRenamed("c", "mg_n"), Seq("item"), "left")
      .na.fill(0L, Seq("mg_n"))
      .crossJoin(broadcast(nTot))
      .select(col("item"), col("exact_n"), col("mg_n"), col("n_total"),
        expr("CASE WHEN mg_n <= exact_n THEN 1L ELSE 0L END").as("ok_upper"),
        expr("CASE WHEN exact_n - mg_n <= n_total div 17L THEN 1L ELSE 0L END")
          .as("ok_lower"))
  }

  private def q369Oracle: String = {
    val thr = (0.5 * (1L << 60).toDouble).toLong
    s"""WITH t1 AS (SELECT unnest(string_split($DNorm, ' ')) AS item
       |            FROM documents
       |            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
       |              < $thr),
       |t2 AS (SELECT unnest(string_split($DNorm, ' ')) AS item
       |       FROM documents
       |       WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
       |         >= $thr),
       |c1 AS (SELECT item, count(*)::BIGINT AS c FROM t1 GROUP BY 1),
       |d1 AS (SELECT coalesce(max(c), 0)::BIGINT AS d FROM (
       |         SELECT c, row_number() OVER (ORDER BY c DESC) AS rn FROM c1)
       |       WHERE rn = 17),
       |s1 AS (SELECT item, (c - d)::BIGINT AS c FROM c1 CROSS JOIN d1
       |       WHERE c > d),
       |c2 AS (SELECT item, sum(c)::BIGINT AS c FROM (
       |         SELECT item, c FROM s1
       |         UNION ALL
       |         SELECT item, count(*)::BIGINT FROM t2 GROUP BY 1)
       |       GROUP BY 1),
       |d2 AS (SELECT coalesce(max(c), 0)::BIGINT AS d FROM (
       |         SELECT c, row_number() OVER (ORDER BY c DESC) AS rn FROM c2)
       |       WHERE rn = 17),
       |s2 AS (SELECT item, (c - d)::BIGINT AS c FROM c2 CROSS JOIN d2
       |       WHERE c > d),
       |toks AS (SELECT unnest(string_split($DNorm, ' ')) AS item
       |         FROM documents),
       |ex AS (SELECT item, count(*)::BIGINT AS exact_n FROM toks GROUP BY 1),
       |nt AS (SELECT count(*)::BIGINT AS n_total FROM toks),
       |top AS (SELECT item, exact_n FROM ex
       |        ORDER BY exact_n DESC, item ASC LIMIT 10)
       |SELECT top.item, top.exact_n, coalesce(s2.c, 0)::BIGINT AS mg_n,
       |       nt.n_total,
       |       (CASE WHEN coalesce(s2.c, 0) <= top.exact_n
       |          THEN 1 ELSE 0 END)::BIGINT AS ok_upper,
       |       (CASE WHEN top.exact_n - coalesce(s2.c, 0) <= nt.n_total // 17
       |          THEN 1 ELSE 0 END)::BIGINT AS ok_lower
       |FROM top LEFT JOIN s2 ON s2.item = top.item CROSS JOIN nt""".stripMargin
  }

  /** q374: snake-balanced shard packing — the LOAD-balance answer to
    * q150's hash sharding (reproducible but size-blind) and q196's skew
    * audit: rank documents by descending weight (n_chars, doc_id
    * tie-break) and deal them boustrophedon over 16 shards (positions
    * 0..15 forward, 16..31 reverse, repeat) — the deterministic,
    * shuffle-free cousin of LPT greedy packing that pairs heavy ranks
    * with light ones inside every 32-stride. The gate publishes both
    * spreads (max·10⁶ div min load) side by side with the md5-hash
    * assignment's, and `snake_tighter` pins that the size-aware deal
    * beats size-blind hashing on this corpus — machine-checked, not
    * assumed. The global rank is [[RangeRank.rank]] — the two-pass
    * range-partitioned form (sampled boundaries, per-partition local rank,
    * broadcast offsets), never a single-partition global window; the snake
    * only needs RANKS, which range partitioning delivers in parallel.
    */
  def q374SnakePacking(spark: SparkSession, dir: String): DataFrame = {
    val ranked = RangeRank.rank(
      documents(spark, dir).select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").desc, col("doc_id").asc), "rnk")
      .withColumn("pos", expr("(rnk - 1) % 32"))
      .withColumn("shard",
        expr("CASE WHEN pos < 16 THEN pos ELSE 31L - pos END"))
      .withColumn("hash_shard",
        pmod(Dedup.baseHash(col("doc_id").cast("string")), lit(16L)))
    val snake = ranked.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("w_sum"))
    val snakeSpread = snake.agg(
      expr("(1000000L * max(w_sum)) div min(w_sum)").as("snake_spread_ppm"))
    val hashSpread = ranked.groupBy("hash_shard")
      .agg(sum("n_chars").as("hw"))
      .agg(expr("(1000000L * max(hw)) div min(hw)").as("hash_spread_ppm"))
    snake.crossJoin(broadcast(snakeSpread)).crossJoin(broadcast(hashSpread))
      .select(col("shard"), col("n_docs"), col("w_sum"),
        col("snake_spread_ppm"), col("hash_spread_ppm"),
        expr("CASE WHEN snake_spread_ppm <= hash_spread_ppm " +
          "THEN 1L ELSE 0L END").as("snake_tighter"))
  }

  private val q374Oracle =
    """WITH r AS (SELECT doc_id, n_chars,
      |             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC)
      |               ::BIGINT AS rnk,
      |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16
      |               AS hash_shard
      |           FROM documents),
      |s AS (SELECT *, (rnk - 1) % 32 AS pos,
      |        (CASE WHEN (rnk - 1) % 32 < 16 THEN (rnk - 1) % 32
      |              ELSE 31 - (rnk - 1) % 32 END)::BIGINT AS shard
      |      FROM r),
      |sn AS (SELECT shard, count(*)::BIGINT AS n_docs,
      |              sum(n_chars)::BIGINT AS w_sum
      |       FROM s GROUP BY 1),
      |sp AS (SELECT ((1000000 * max(w_sum)) // min(w_sum))::BIGINT
      |         AS snake_spread_ppm FROM sn),
      |hp AS (SELECT ((1000000 * max(hw)) // min(hw))::BIGINT
      |         AS hash_spread_ppm
      |       FROM (SELECT hash_shard, sum(n_chars)::BIGINT AS hw
      |             FROM s GROUP BY 1) h)
      |SELECT shard, n_docs, w_sum, snake_spread_ppm, hash_spread_ppm,
      |       (CASE WHEN snake_spread_ppm <= hash_spread_ppm
      |          THEN 1 ELSE 0 END)::BIGINT AS snake_tighter
      |FROM sn CROSS JOIN sp CROSS JOIN hp""".stripMargin

  /** q378: exact substring-level dedup ([[Dedup.exactSubstrSpans]] — the
    * Lee et al. ACL 2022 ExactSubstr tier): maximal duplicated token
    * spans ≥ 16 tokens built from duplicated 8-gram runs, the span-level
    * signal the document tiers (q20/q21/q22) and line tier (q95-family)
    * both miss. One row per span (doc_id, span_start, span_tokens); the
    * oracle replays the gram hashing, the ≥2 occurrence gate, and the
    * gaps-and-islands run merge in SQL, so the span extraction itself is
    * hash-gated, not just row counts.
    */
  def q378ExactSubstr(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrSpans(fanOut(documents(spark, dir)),
      k = 8, minSpanTokens = 16)

  private val q378Oracle =
    s"""WITH t AS (SELECT doc_id, string_split($DNorm, ' ') AS toks
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
       |       FROM t WHERE len(toks) >= 8),
       |g AS (SELECT doc_id, i - 1 AS pos,
       |        ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS gh
       |      FROM g0),
       |d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |m AS (SELECT doc_id, pos FROM g JOIN d USING (gh)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM m),
       |s AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
       |        (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
       |      FROM r GROUP BY doc_id, isl)
       |SELECT doc_id, span_start, span_tokens
       |FROM s WHERE span_tokens >= 16""".stripMargin

  /** q380: ExactSubstr removal audit — what Lee et al.'s span REMOVAL
    * would actually delete, rolled up per source: q378's spans can
    * overlap in TOKEN space (adjacent islands closer than k−1 positions
    * share up to k−2 tail tokens), so the deletable mass is the UNION of
    * span intervals, not Σ span_tokens. Within a doc spans sorted by
    * start have strictly increasing ends, so the union is the classic
    * sorted-interval sweep `Σ (width − max(0, prev_end − start))` — one
    * lag over the per-DOC partition. Published per source: total tokens,
    * deletable tokens, dup_ppm, docs affected — the "which source is
    * feeding the duplication" readout that decides where a crawl gets
    * re-scoped.
    *
    * Scale shape: spans are a tiny contraction of the corpus; the union
    * window partitions by doc; the rollup joins back to one
    * token-counting scan and contracts to |sources| rows.
    */
  def q380DupCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    val spans = Dedup.exactSubstrSpans(docs, k = 8, minSpanTokens = 16)
    val wd = Window.partitionBy("doc_id").orderBy("span_start")
    val perDoc = spans
      .withColumn("span_end", col("span_start") + col("span_tokens"))
      .withColumn("prev_end", lag(col("span_end"), 1).over(wd))
      .groupBy("doc_id")
      .agg(sum(col("span_tokens") -
          greatest(coalesce(col("prev_end"), lit(0L)) - col("span_start"), lit(0L)))
        .as("dup_union"))
    docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        sum(coalesce(col("dup_union"), lit(0L))).as("dup_tokens"),
        expr("sum(CASE WHEN dup_union IS NOT NULL THEN 1L ELSE 0L END)")
          .as("docs_affected"))
      .withColumn("dup_ppm", expr("(1000000L * dup_tokens) div total_tokens"))
      .select("source", "n_docs", "total_tokens", "dup_tokens", "dup_ppm",
        "docs_affected")
  }

  private val q380Oracle =
    s"""WITH t AS (SELECT doc_id, string_split($DNorm, ' ') AS toks
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
       |       FROM t WHERE len(toks) >= 8),
       |g AS (SELECT doc_id, i - 1 AS pos,
       |        ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS gh
       |      FROM g0),
       |d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |m AS (SELECT doc_id, pos FROM g JOIN d USING (gh)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM m),
       |s AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
       |        (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
       |      FROM r GROUP BY doc_id, isl),
       |f AS (SELECT doc_id, span_start, span_tokens,
       |        lag(span_start + span_tokens)
       |          OVER (PARTITION BY doc_id ORDER BY span_start) AS prev_end
       |      FROM s WHERE span_tokens >= 16),
       |u AS (SELECT doc_id,
       |        sum(span_tokens
       |            - greatest(coalesce(prev_end, 0) - span_start, 0))::BIGINT
       |          AS dup_union
       |      FROM f GROUP BY doc_id),
       |tt AS (SELECT doc_id, source, len(string_split($DNorm, ' '))::BIGINT
       |         AS n_tokens
       |       FROM documents)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |       sum(n_tokens)::BIGINT AS total_tokens,
       |       sum(coalesce(dup_union, 0))::BIGINT AS dup_tokens,
       |       ((1000000 * sum(coalesce(dup_union, 0))) // sum(n_tokens))
       |         ::BIGINT AS dup_ppm,
       |       sum(CASE WHEN dup_union IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |         AS docs_affected
       |FROM tt LEFT JOIN u USING (doc_id) GROUP BY source""".stripMargin

  /** q381: epoch-shuffle decorrelation gate — the data-loader ORDER
    * problem at 100 TB: each training epoch needs a different, fully
    * deterministic, resumable permutation of the corpus, and a global
    * `ORDER BY rand()` is both irreproducible and a single-partition
    * sort. The shuffle here is the keyed-hash order `md5(epoch#doc_id)`
    * materialized as global ranks by [[RangeRank.rank]] (two-pass
    * range-partitioned — the shuffle IS the shuffle), and the gate
    * machine-checks that reseeding actually decorrelates consecutive
    * epochs: for two independent uniform permutations
    * `E[Σ|r₁−r₂|] = (n²−1)/3`, so `disp_ppm = 3·10⁶·Σ|Δr| div (n²−1)`
    * must sit near 10⁶ (pinned ±10 %; a forgotten reseed gives identical
    * ranks and disp_ppm = 0 — the failure this gate exists to catch).
    * BIGINT headroom bound: worst-case Σ|Δr| ≤ n²/2, so the 3·10⁶
    * numerator needs 1.5·10⁶·n² < 2⁶³ ⇒ n ≲ 2.4·10⁶ docs (Spark wraps
    * silently past it, DuckDB errors — the q379/q390 documentation
    * discipline); beyond that, rescale via `sum_disp div (n−1)` first.
    *
    * Scale shape: one scan, two RangeRank passes over (id, two hash
    * keys), a 1-row fold. Nothing global-ordered in one task.
    */
  def q381EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"))
      .withColumn("k1",
        Dedup.baseHash(concat(lit("1#"), col("doc_id").cast("string"))))
      .withColumn("k2",
        Dedup.baseHash(concat(lit("2#"), col("doc_id").cast("string"))))
    val r1 = RangeRank.rank(base, Seq(col("k1").asc, col("doc_id").asc), "r1")
    val r2 = RangeRank.rank(r1, Seq(col("k2").asc, col("doc_id").asc), "r2")
    r2.agg(count(lit(1)).as("n_docs"),
        sum(abs(col("r1") - col("r2"))).as("sum_disp"))
      .select(col("n_docs"), col("sum_disp"),
        expr("(3000000L * sum_disp) div (n_docs * n_docs - 1)").as("disp_ppm"))
      .withColumn("ok_shuffled",
        expr("CASE WHEN disp_ppm BETWEEN 900000 AND 1100000 THEN 1L ELSE 0L END"))
  }

  private val q381Oracle =
    """WITH d AS (SELECT doc_id,
      |    ('0x' || substr(md5('1#' || doc_id::VARCHAR), 1, 15))::BIGINT AS k1,
      |    ('0x' || substr(md5('2#' || doc_id::VARCHAR), 1, 15))::BIGINT AS k2
      |  FROM documents),
      |r AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY k1, doc_id) AS r1,
      |    row_number() OVER (ORDER BY k2, doc_id) AS r2 FROM d),
      |a AS (SELECT count(*)::BIGINT AS n_docs,
      |        sum(abs(r1 - r2))::BIGINT AS sum_disp FROM r)
      |SELECT n_docs, sum_disp,
      |       ((3000000 * sum_disp) // (n_docs * n_docs - 1))::BIGINT AS disp_ppm,
      |       (CASE WHEN (3000000 * sum_disp) // (n_docs * n_docs - 1)
      |          BETWEEN 900000 AND 1100000 THEN 1 ELSE 0 END)::BIGINT
      |         AS ok_shuffled
      |FROM a""".stripMargin

  /** q382: Hamilton (largest-remainder) apportionment of a token budget —
    * closes the gap q151's floor-share mixture leaves open: flooring each
    * share under-assigns up to |sources|−1 tokens, and at a 10⁹ budget
    * "almost the budget" is not a contract a sampler can schedule
    * against. The classic apportionment fix: base alloc `(B·w) div W`
    * per source, then the `B − Σbase` deficit goes one unit each to the
    * LARGEST fractional remainders `(B·w) mod W` (source-name tie-break
    * for determinism). `exact_total` machine-checks `Σalloc = B` EXACTLY
    * — the property floor shares cannot give. Weights are per-source
    * token counts (plain proportional; the temperature variant is
    * q151's job).
    *
    * Scale shape: one token-count scan contracted to |sources| rows
    * (localCheckpoint — the tiny table feeds the deficit fold and the
    * rank without re-scanning the corpus); remainder ranking and the
    * exactness fold ride that tiny axis.
    */
  def q382Apportion(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000000000L
    val base = documents(spark, dir)
      .select(col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
      .crossJoin(broadcast(
        documents(spark, dir)
          .select(TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
          .agg(sum("t").as("w_sum"))))
      .withColumn("base", expr(s"(${budget}L * n_tokens) div w_sum"))
      .withColumn("rem", expr(s"(${budget}L * n_tokens) % w_sum"))
      .localCheckpoint()
    val wr = Window.orderBy(col("rem").desc, col("source").asc)
    base
      .crossJoin(broadcast(
        base.agg((lit(budget) - sum("base")).as("deficit"))))
      .withColumn("rr", row_number().over(wr).cast("long"))
      .withColumn("extra", expr("CASE WHEN rr <= deficit THEN 1L ELSE 0L END"))
      .withColumn("alloc", col("base") + col("extra"))
      .withColumn("exact_total",
        expr(s"CASE WHEN sum(alloc) OVER () = ${budget}L THEN 1L ELSE 0L END"))
      .select("source", "n_tokens", "base", "rem", "rr", "extra", "alloc",
        "exact_total")
  }

  private val q382Oracle =
    s"""WITH w AS (SELECT source,
       |        sum(len(string_split($DNorm, ' ')))::BIGINT AS n_tokens
       |      FROM documents GROUP BY 1),
       |t AS (SELECT *, sum(n_tokens) OVER ()::BIGINT AS w_sum FROM w),
       |b AS (SELECT source, n_tokens,
       |        ((1000000000 * n_tokens) // w_sum)::BIGINT AS base,
       |        ((1000000000 * n_tokens) % w_sum)::BIGINT AS rem
       |      FROM t),
       |x AS (SELECT *, (1000000000 - sum(base) OVER ())::BIGINT AS deficit,
       |        row_number() OVER (ORDER BY rem DESC, source ASC)::BIGINT AS rr
       |      FROM b),
       |y AS (SELECT source, n_tokens, base, rem, rr,
       |        (CASE WHEN rr <= deficit THEN 1 ELSE 0 END)::BIGINT AS extra,
       |        (base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END)::BIGINT
       |          AS alloc
       |      FROM x)
       |SELECT source, n_tokens, base, rem, rr, extra, alloc,
       |       (CASE WHEN sum(alloc) OVER () = 1000000000 THEN 1 ELSE 0 END)
       |         ::BIGINT AS exact_total
       |FROM y""".stripMargin

  /** q383: the FIFTEENTH streaming gate — incremental ExactSubstr span
    * detection against a GROWING gram index ([[Dedup.writeGramIndex]] →
    * [[Dedup.exactSubstrSpansAgainstIndex]] → [[Dedup.appendGramIndex]]
    * per batch): the ingest-time form of q378. A crawler lands batches;
    * each batch's duplicated spans — vs everything already ingested
    * (seed included) or self-repeated within the batch — surface
    * immediately, and the batch's distinct grams append to the index.
    * One-pass semantics by construction: a gram's FIRST occurrence,
    * duplicated only by a LATER batch, is not retro-flagged — state is
    * batch-split-dependent, so the oracle replays the IDENTICAL
    * two-batch fold in SQL (the q369/q233 discipline: "index at batch
    * time" = all grams of docs below the batch's id floor). Seed =
    * docs < 200; batch 1 = [200, 350); batch 2 = ≥ 350; arrival order
    * pinned by mtime with maxFilesPerTrigger = 1.
    */
  def q383StreamExactSubstr(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val docs = documents(spark, dir)
    val inDir = Staging.streamInput("q383", dir)(Seq(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
      docs.filter(col("doc_id") >= 350)))
    val work = Scratch.stableDir("q383-work-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val idx = s"$work/gidx"
    val out = s"$work/spans"
    Dedup.writeGramIndex(fanOut(docs.filter(col("doc_id") < 200)), idx)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        // fused detect + index-append: one gram scan per batch (the
        // two-call form tokenizes the batch twice); the span write lands
        // before the index grows, so no per-batch span checkpoint
        Dedup.exactSubstrIngestBatchTo(fanOut(batch), idx, out)
      },
      s"$work/ckpt")
    spark.read.parquet(out)
  }

  private val q383Oracle =
    s"""WITH t AS (SELECT doc_id, string_split($DNorm, ' ') AS toks
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
       |       FROM t WHERE len(toks) >= 8),
       |g AS (SELECT doc_id, i - 1 AS pos,
       |        ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS gh
       |      FROM g0),
       |n AS (SELECT doc_id, pos, gh,
       |        CASE WHEN doc_id < 350 THEN 200 ELSE 350 END AS lo
       |      FROM g WHERE doc_id >= 200),
       |seen AS (SELECT DISTINCT n.doc_id, n.pos FROM n JOIN g o
       |         ON o.gh = n.gh AND o.doc_id < n.lo),
       |inb AS (SELECT doc_id, pos FROM (
       |          SELECT doc_id, pos, count(*) OVER (PARTITION BY gh, lo) AS c
       |          FROM n) z
       |        WHERE c >= 2),
       |m AS (SELECT doc_id, pos FROM seen
       |      UNION SELECT doc_id, pos FROM inb),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM m),
       |s AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
       |        (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
       |      FROM r GROUP BY doc_id, isl)
       |SELECT doc_id, span_start, span_tokens
       |FROM s WHERE span_tokens >= 16""".stripMargin

  /** q387: the SIXTEENTH streaming gate — Bloom-gated streaming ingest
    * (q384's filter run the way Dolma actually runs it: under the
    * stream, with the bit set GROWING per batch). Each arriving batch is
    * flagged against the bits of everything ingested BEFORE it (k-hit
    * semi-join), its exact duplicates are read off a growing fingerprint
    * index so false positives/negatives are accounted per batch, and
    * only then do the batch's distinct bits + fingerprints append. The
    * per-batch stats row carries `bits_before` — the occupancy the FP
    * rate must be judged against — so the output is the Bloom filter's
    * own operating curve, batch by batch. State is batch-split-dependent
    * (bits at batch time = bits of docs below the batch's id floor), so
    * the oracle replays the identical two-batch fold (the q383/q369
    * discipline). Seed = docs < 250; batch 1 = [250, 375); batch 2 =
    * ≥ 375; mtime-pinned arrival, maxFilesPerTrigger = 1.
    */
  def q387StreamBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val m = 2048L
    val k = 3
    val docs = documents(spark, dir)
    val inDir = Staging.streamInput("q387", dir)(Seq(
      docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
      docs.filter(col("doc_id") >= 375)))
    def fps(df: DataFrame): DataFrame =
      df.select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("f"))
    def bits(df: DataFrame): DataFrame = fps(df).select(col("doc_id"), col("f"),
      explode(array((1 to k).map(j =>
        pmod(Dedup.baseHash(concat(lit(s"$j#"), col("f"))), lit(m))): _*)).as("bit"))
    val work = Scratch.stableDir("q387-work-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    // ONE index relation for both state kinds — a row is either a set bit
    // (f null) or a known fingerprint (bit null) — so growing the state is
    // ONE append job per batch, not two; readers split it back by
    // null-filter + column pruning (each side scans only its own column)
    val idx = s"$work/idx"
    def idxRows(df: DataFrame): DataFrame =
      bits(df).select(col("bit"), lit(null).cast("string").as("f")).distinct()
        .unionByName(
          fps(df).select(lit(null).cast("long").as("bit"), col("f")).distinct())
    val out = s"$work/stats"
    val seed = docs.filter(col("doc_id") < 250)
    idxRows(seed).write.mode("overwrite").parquet(idx)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val stored = spark.read.parquet(idx)
          val seen = stored.filter(col("bit").isNotNull).select("bit")
          val known = stored.filter(col("f").isNotNull).select("f")
          val flagged = bits(b).join(broadcast(seen), Seq("bit"), "left_semi")
            .groupBy("doc_id").agg(count(lit(1)).as("hits"))
            .filter(col("hits") === k)
            .select(col("doc_id"), lit(1L).as("bloom_flag"))
          val exact = fps(b).join(known, Seq("f"), "left_semi")
            .select(col("doc_id"), lit(1L).as("exact_flag"))
          fps(b)
            .join(flagged, Seq("doc_id"), "left")
            .join(exact, Seq("doc_id"), "left")
            // append-only index: a bit re-set by a later batch is a second
            // ROW (the semi-join reader doesn't care) — occupancy counts
            // DISTINCT bits
            .crossJoin(broadcast(
              seen.agg(countDistinct(col("bit")).as("bits_before"))))
            .agg(
              expr("CASE WHEN min(doc_id) < 375 THEN 250L ELSE 375L END")
                .as("batch_lo"),
              count(lit(1)).as("n_docs"),
              sum(coalesce(col("exact_flag"), lit(0L))).as("exact_dup"),
              sum(coalesce(col("bloom_flag"), lit(0L))).as("bloom_flagged"),
              sum(when(col("bloom_flag").isNotNull && col("exact_flag").isNull, 1L)
                .otherwise(0L)).as("false_pos"),
              sum(when(col("exact_flag").isNotNull && col("bloom_flag").isNull, 1L)
                .otherwise(0L)).as("false_neg"),
              max(col("bits_before")).as("bits_before"))
            .write.mode("append").parquet(out)
          idxRows(b).write.mode("append").parquet(idx)
        } finally b.unpersist(false)
      },
      s"$work/ckpt")
    spark.read.parquet(out)
  }

  private val q387Oracle =
    s"""WITH d AS (SELECT doc_id, md5($DNorm) AS f FROM documents),
       |b AS (SELECT doc_id, f,
       |        ('0x' || substr(md5(j.j::VARCHAR || '#' || f), 1, 15))::BIGINT
       |          % 2048 AS bit
       |      FROM d CROSS JOIN (SELECT unnest(range(1, 4)) AS j) j),
       |n AS (SELECT doc_id, f, bit,
       |        CASE WHEN doc_id < 375 THEN 250 ELSE 375 END AS lo
       |      FROM b WHERE doc_id >= 250),
       |hit AS (SELECT doc_id, lo, count(*) AS hits FROM n
       |        WHERE EXISTS (SELECT 1 FROM b o
       |                      WHERE o.bit = n.bit AND o.doc_id < n.lo)
       |        GROUP BY 1, 2),
       |fl AS (SELECT doc_id FROM hit WHERE hits = 3),
       |nn AS (SELECT doc_id, f,
       |         CASE WHEN doc_id < 375 THEN 250 ELSE 375 END AS lo
       |       FROM d WHERE doc_id >= 250),
       |ex AS (SELECT nn.doc_id FROM nn WHERE EXISTS
       |        (SELECT 1 FROM d o WHERE o.f = nn.f AND o.doc_id < nn.lo)),
       |st AS (SELECT nn.lo AS batch_lo, nn.doc_id,
       |         CASE WHEN nn.doc_id IN (SELECT doc_id FROM fl) THEN 1 ELSE 0 END AS bf,
       |         CASE WHEN nn.doc_id IN (SELECT doc_id FROM ex) THEN 1 ELSE 0 END AS ef
       |       FROM nn)
       |SELECT batch_lo::BIGINT AS batch_lo, count(*)::BIGINT AS n_docs,
       |       sum(ef)::BIGINT AS exact_dup,
       |       sum(bf)::BIGINT AS bloom_flagged,
       |       sum(CASE WHEN bf = 1 AND ef = 0 THEN 1 ELSE 0 END)::BIGINT
       |         AS false_pos,
       |       sum(CASE WHEN ef = 1 AND bf = 0 THEN 1 ELSE 0 END)::BIGINT
       |         AS false_neg,
       |       (SELECT count(DISTINCT bit) FROM b WHERE doc_id < batch_lo)::BIGINT
       |         AS bits_before
       |FROM st GROUP BY batch_lo""".stripMargin

  /** q385: ExactSubstr removal REWRITE — the cleanup ACTION that closes
    * q378 (detect) and q380 (audit): affected documents are rebuilt with
    * every token inside a duplicated span cut out, and the gate hashes
    * the REBUILT TEXT itself (md5 per doc) so a off-by-one at either
    * span edge, a wrong overlap merge, or a token-order slip cannot
    * hash-match. Output per affected doc: tokens before/after and the
    * rebuilt md5.
    *
    * Scale shape: spans contract to an intervals array per affected doc
    * (tiny — spans per doc is bounded by doc length), equi-joined back
    * to the one affected-docs scan; the cut itself is a per-row
    * higher-order `filter` over (token, index) against that row's
    * intervals — no shuffle beyond the spans join, no explode of the
    * corpus into token rows.
    */
  def q385SpanRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    val ivs = Dedup.exactSubstrSpans(docs, k = 8, minSpanTokens = 16)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_tokens"))).as("ivs"))
    docs.join(ivs, "doc_id")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("kept", filter(col("toks"), (t, i) =>
        !exists(col("ivs"), s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") < s.getField("span_start") + s.getField("span_tokens"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        md5(array_join(col("kept"), " ")).as("rebuilt_md5"))
  }

  private val q385Oracle =
    s"""WITH t AS (SELECT doc_id, string_split($DNorm, ' ') AS toks
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
       |       FROM t WHERE len(toks) >= 8),
       |g AS (SELECT doc_id, i - 1 AS pos,
       |        ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS gh
       |      FROM g0),
       |d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |mm AS (SELECT doc_id, pos FROM g JOIN d USING (gh)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM mm),
       |iv AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
       |        (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
       |       FROM r GROUP BY doc_id, isl
       |       HAVING max(pos) - min(pos) + 8 >= 16),
       |tok AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
       |        FROM t WHERE doc_id IN (SELECT doc_id FROM iv)),
       |kflag AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
       |        CASE WHEN EXISTS (SELECT 1 FROM iv
       |               WHERE iv.doc_id = tok0.doc_id
       |                 AND tok0.i - 1 >= iv.span_start
       |                 AND tok0.i - 1 < iv.span_start + iv.span_tokens)
       |          THEN 0 ELSE 1 END AS keep
       |      FROM tok tok0)
       |SELECT doc_id, count(*)::BIGINT AS n_before,
       |       sum(keep)::BIGINT AS n_after,
       |       md5(coalesce(string_agg(CASE WHEN keep = 1 THEN tok END,
       |         ' ' ORDER BY pos), '')) AS rebuilt_md5
       |FROM kflag GROUP BY doc_id""".stripMargin

  /** q392: ExactSubstr batch RECONCILIATION — the retro-flagging pass
    * q383's one-pass streaming semantics defers: a gram's FIRST occurrence,
    * duplicated only by a LATER batch, is invisible at ingest time (the
    * index gains the gram only after its batch lands), so the stream's
    * span set systematically under-covers earlier arrivals. This query
    * replays q383's exact two-batch fold deterministically
    * ([[Dedup.exactSubstrSpansIncrementalReplay]] — seed < 200, batch 1 =
    * [200, 350), batch 2 = ≥ 350), re-runs batch-exact detection over the
    * accumulated corpus ([[Dedup.exactSubstrReconcile]]), and publishes
    * every batch-exact span with `missed_by_stream` — the delta downstream
    * removal must reprocess. Seed-resident spans are ALWAYS missed (the
    * stream never re-reads the seed); batch spans are missed when the
    * duplicate arrived later or when late marks extended the island past
    * the extent the stream saw.
    *
    * Scale shape: the replay is one gram scan + a per-(gram, batch)
    * map-side-combined count + a window over ≤ |batches| count rows per
    * gram; the reconciliation is the batch detection plus a left join of
    * two span tables — all tiny contractions of the corpus.
    */
  def q392SubstrReconcile(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    val batch = when(col("doc_id") < 200, 0L)
      .when(col("doc_id") < 350, 1L).otherwise(2L)
    // fused form: one gram scan feeds both the batch-exact and the replayed
    // incremental mark (spec-asserted equal to the generic
    // exactSubstrReconcile over exactSubstrSpansIncrementalReplay)
    Dedup.exactSubstrReconcileReplay(docs, batch, k = 8, minSpanTokens = 16)
  }

  private val q392Oracle =
    s"""WITH t AS (SELECT doc_id, string_split($DNorm, ' ') AS toks
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
       |       FROM t WHERE len(toks) >= 8),
       |g AS (SELECT doc_id, i - 1 AS pos,
       |        ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS gh
       |      FROM g0),
       |d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |m AS (SELECT doc_id, pos FROM g JOIN d USING (gh)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM m),
       |fs AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
       |         (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
       |       FROM r GROUP BY doc_id, isl
       |       HAVING max(pos) - min(pos) + 8 >= 16),
       |n AS (SELECT doc_id, pos, gh,
       |        CASE WHEN doc_id < 350 THEN 200 ELSE 350 END AS lo
       |      FROM g WHERE doc_id >= 200),
       |seen AS (SELECT DISTINCT n.doc_id, n.pos FROM n JOIN g o
       |         ON o.gh = n.gh AND o.doc_id < n.lo),
       |inb AS (SELECT doc_id, pos FROM (
       |          SELECT doc_id, pos, count(*) OVER (PARTITION BY gh, lo) AS c
       |          FROM n) z
       |        WHERE c >= 2),
       |mi AS (SELECT doc_id, pos FROM seen
       |       UNION SELECT doc_id, pos FROM inb),
       |ri AS (SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |       FROM mi),
       |si AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
       |         (max(pos) - min(pos) + 8)::BIGINT AS span_tokens,
       |         1 AS hit
       |       FROM ri GROUP BY doc_id, isl
       |       HAVING max(pos) - min(pos) + 8 >= 16)
       |SELECT fs.doc_id, fs.span_start, fs.span_tokens,
       |       (CASE WHEN si.hit IS NULL THEN 1 ELSE 0 END)::BIGINT
       |         AS missed_by_stream
       |FROM fs LEFT JOIN si
       |  ON si.doc_id = fs.doc_id AND si.span_start = fs.span_start
       | AND si.span_tokens = fs.span_tokens""".stripMargin

  /** q393: pairwise source token-distribution TVD matrix — the
    * source-redundancy readout a mixture designer wants NEXT to the
    * overlap tiers: q293-family dedup finds shared DOCUMENTS, this finds
    * sources whose unigram DISTRIBUTIONS are near-identical even with
    * zero shared documents (two crawls of the same register), where a
    * mixture weight split between them buys no diversity. Exact integer
    * total variation distance per unordered source pair:
    * `tvd = Σ_tok |c_a/T_a − c_b/T_b| / 2`, cross-multiplied to
    * `tvd_ppm = 10⁶·Σ|c_a·T_b − c_b·T_a| div (2·T_a·T_b)` with the
    * unmatched-token mass folded in via the totals identity
    * `Σ_{a-only} c_a = T_a − Σ_matched c_a` — so the pair join only ever
    * carries tokens present in BOTH sources, never a full outer vocab
    * frame. BIGINT headroom: 2·10⁶·T_a·T_b < 2⁶³ ⇒ T ≲ 2.1·10⁶ tokens
    * per source (the q390/q381 documented-bound discipline); past that,
    * fold per-mille shares instead.
    *
    * Scale shape: one corpus scan contracts to (source, token, count) —
    * the token-keyed pair join then carries ≤ |sources| rows per token
    * (counts, never occurrences), the totals are a broadcast |sources|
    * axis, and the output is the C(|sources|, 2) matrix.
    */
  def q393SourceTvd(spark: SparkSession, dir: String): DataFrame = {
    val c = documents(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the totals axis AND both pair-join sides
    val t = c.groupBy("source").agg(sum("c").as("tt")).localCheckpoint()
    val m = c.select(col("source").as("sa"), col("tok"), col("c").as("ca"))
      .join(c.select(col("source").as("sb"), col("tok"), col("c").as("cb")),
        Seq("tok"))
      .filter(col("sa") < col("sb"))
      .join(broadcast(t.select(col("source").as("sa"), col("tt").as("ta"))), Seq("sa"))
      .join(broadcast(t.select(col("source").as("sb"), col("tt").as("tb"))), Seq("sb"))
      .groupBy("sa", "sb")
      .agg(sum(abs(col("ca") * col("tb") - col("cb") * col("ta"))).as("mnum"),
        sum("ca").as("sa_sum"), sum("cb").as("sb_sum"))
    t.select(col("source").as("source_a"), col("tt").as("tokens_a"))
      .join(broadcast(t.select(col("source").as("source_b"), col("tt").as("tokens_b"))),
        col("source_a") < col("source_b"))
      .join(m, col("source_a") === col("sa") && col("source_b") === col("sb"),
        "left")
      .select(col("source_a"), col("source_b"), col("tokens_a"), col("tokens_b"),
        expr("""(1000000L * (coalesce(mnum, 0L)
                 + (tokens_a - coalesce(sa_sum, 0L)) * tokens_b
                 + (tokens_b - coalesce(sb_sum, 0L)) * tokens_a))
                div (2L * tokens_a * tokens_b)""").as("tvd_ppm"))
  }

  private val q393Oracle =
    s"""WITH tk AS (SELECT source, unnest(string_split($DNorm, ' ')) AS tok
       |            FROM documents),
       |c AS (SELECT source, tok, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
       |t AS (SELECT source, sum(c)::BIGINT AS tt FROM c GROUP BY 1),
       |m AS (SELECT a.source AS sa, b.source AS sb,
       |        sum(abs(a.c * tb.tt - b.c * ta.tt))::BIGINT AS mnum,
       |        sum(a.c)::BIGINT AS sa_sum, sum(b.c)::BIGINT AS sb_sum
       |      FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
       |      JOIN t ta ON ta.source = a.source
       |      JOIN t tb ON tb.source = b.source
       |      GROUP BY 1, 2)
       |SELECT ta.source AS source_a, tb.source AS source_b,
       |       ta.tt AS tokens_a, tb.tt AS tokens_b,
       |       ((1000000 * (coalesce(mnum, 0)
       |          + (ta.tt - coalesce(sa_sum, 0)) * tb.tt
       |          + (tb.tt - coalesce(sb_sum, 0)) * ta.tt))
       |        // (2 * ta.tt * tb.tt))::BIGINT AS tvd_ppm
       |FROM t ta JOIN t tb ON ta.source < tb.source
       |LEFT JOIN m ON m.sa = ta.source AND m.sb = tb.source""".stripMargin

  /** q386: quality-aware keeper selection — duplicate CLUSTERS (q27's
    * MinHash connected components) resolved by keeping the HIGHEST
    * text-quality member instead of the min-id convention: near-dup
    * members genuinely differ (truncation, boilerplate accretion, OCR
    * noise), and public pipelines keep the best version, not the first
    * crawled. Quality is q328's integer score (×10⁴); argmax ties break
    * to the smaller id, so the pick is a total function of the cluster.
    * Only clusters with ≥ 2 members are emitted (singletons have no
    * choice to make).
    *
    * Scale shape: q27's bucketed pair generation + log-round CC, one
    * quality scan equi-joined on doc_id, a per-cluster `max_by` fold —
    * nothing quadratic, no global order.
    */
  def q386QualityKeeper(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    // served pair tier (r15): stagedDocPairs IS nearDupsFromRelations(bands,
    // shingles, 0.5) persisted with the sketch (DedupSpec staged≡fresh), so
    // clustering reads the pair relation instead of re-running candidate
    // bucketing + Jaccard verify per trial — q28 keeps that stage benched;
    // q386's tier is the quality argmax over the clusters.
    val clusters = Dedup.duplicateClusters(docs, stagedDocPairs(spark, dir))
    val text = col("text")
    val nTok = TextAnalysis.tokenCount(text)
    val punct = TextAnalysis.punctCount(text)
    val stop = TextAnalysis.stopwordHits(
      TextAnalysis.tokens(text), TextAnalysis.LangStopwords.head._2)
    val q = docs.select(col("doc_id"),
      (round(TextAnalysis.qualityScore(nTok, punct, stop, col("n_chars")) * 10000, 0))
        .cast("long").as("q4"))
    clusters.join(q, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("q4"), -col("doc_id"))).as("keeper_id"),
        max(col("q4")).as("keeper_q"))
      .filter(col("n_members") >= 2)
  }

  private def q386Oracle: String = {
    val en = dHits("en")
    s"""WITH RECURSIVE $minhashPairsCte,
       |pr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
       |),
       |cl AS (SELECT id AS doc_id, min(lab)::BIGINT AS cluster_id
       |       FROM reach GROUP BY id),
       |c0 AS (SELECT doc_id,
       |        len(string_split($DNorm, ' '))::INT AS n_tokens,
       |        len(regexp_extract_all(text, '[.,!?;:]'))::INT AS punct,
       |        $en AS stop_hits, n_chars
       |      FROM documents),
       |q AS (SELECT doc_id,
       |        round(10000 * (0.3 * least(1.0, n_tokens::DOUBLE / 100.0)
       |            + 0.4 * (1.0 - least(1.0, punct::DOUBLE / greatest(n_tokens::DOUBLE, 1.0)))
       |            + 0.3 * least(1.0, 4.0 * stop_hits::DOUBLE / greatest(n_tokens::DOUBLE, 1.0))
       |          ))::BIGINT AS q4
       |      FROM c0),
       |j AS (SELECT cl.cluster_id, cl.doc_id, q.q4 FROM cl JOIN q USING (doc_id)),
       |rk AS (SELECT cluster_id, doc_id, q4,
       |         row_number() OVER (PARTITION BY cluster_id
       |                            ORDER BY q4 DESC, doc_id ASC) AS rn
       |       FROM j),
       |agg AS (SELECT cluster_id, count(*)::BIGINT AS n_members,
       |          max(q4)::BIGINT AS keeper_q
       |        FROM j GROUP BY 1)
       |SELECT a.cluster_id, a.n_members, r.doc_id::BIGINT AS keeper_id,
       |       a.keeper_q
       |FROM agg a JOIN rk r ON r.cluster_id = a.cluster_id AND r.rn = 1
       |WHERE a.n_members >= 2""".stripMargin
  }

  /** q389: curriculum-learning schedule construction (Bengio et al.,
    * ICML 2009) — the corpus ordered easy→hard and cut into FOUR phases
    * of EQUAL TOKEN MASS (a trainer schedules by tokens, not by doc
    * count): difficulty = integer mean token length
    * (`1000·n_chars div n_tokens` — longer words, harder text), the cut
    * point is each doc's cumulative token START, and `balanced`
    * machine-checks that every phase's mass sits within one
    * max-document of total/4 — the tightest bound doc granularity
    * allows. The cumulative token count over the difficulty order is
    * [[RangeRank.prefix]] (two-pass range-partitioned), so the schedule
    * builds with no single-partition window at any size.
    */
  def q389Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val s = documents(spark, dir).select(col("doc_id"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("diff_milli", expr("(1000L * n_chars) div n_tokens"))
    val cum = RangeRank.prefix(s,
      Seq(col("diff_milli").asc, col("doc_id").asc), col("n_tokens"), "cum")
    cum
      .crossJoin(broadcast(cum.agg(max(col("cum")).as("total"),
        max(col("n_tokens")).as("max_tok"))))
      .withColumn("phase", expr("((cum - n_tokens) * 4) div total"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
        min("diff_milli").as("lo_diff"), max("diff_milli").as("hi_diff"),
        max(col("total")).as("total"), max(col("max_tok")).as("max_tok"))
      .withColumn("balanced",
        expr("CASE WHEN abs(4L * tokens - total) <= 4L * max_tok " +
          "THEN 1L ELSE 0L END"))
      .select("phase", "n_docs", "tokens", "lo_diff", "hi_diff", "balanced")
  }

  private val q389Oracle =
    s"""WITH d AS (SELECT doc_id, n_chars,
       |        len(string_split($DNorm, ' '))::BIGINT AS n_tokens
       |      FROM documents),
       |s AS (SELECT doc_id, n_tokens,
       |        ((1000 * n_chars) // n_tokens)::BIGINT AS diff_milli FROM d),
       |c AS (SELECT *,
       |        sum(n_tokens) OVER (ORDER BY diff_milli, doc_id) AS cum,
       |        sum(n_tokens) OVER () AS total,
       |        max(n_tokens) OVER () AS max_tok FROM s),
       |ph AS (SELECT *, ((cum - n_tokens) * 4) // total AS phase FROM c)
       |SELECT phase::BIGINT AS phase, count(*)::BIGINT AS n_docs,
       |       sum(n_tokens)::BIGINT AS tokens,
       |       min(diff_milli)::BIGINT AS lo_diff,
       |       max(diff_milli)::BIGINT AS hi_diff,
       |       (CASE WHEN abs(4 * sum(n_tokens) - max(total)) <= 4 * max(max_tok)
       |          THEN 1 ELSE 0 END)::BIGINT AS balanced
       |FROM ph GROUP BY phase""".stripMargin

  /** q391: filter-redundancy matrix — the ablation bookkeeping a curation
    * pipeline runs BEFORE reordering its funnel: four standard quality
    * filters (too-short, repetitive ⅔-uniqueness, low-stopword-density,
    * long-mean-token) evaluated per doc, published as the pairwise
    * overlap matrix (n_a, n_b, n_both, Jaccard ppm). A near-1 pair means
    * one filter is paying a full corpus pass to remove documents its
    * sibling already removes — on THIS corpus the repetitive and
    * low-stopword filters overlap at ~0.79, a real redundancy readout,
    * while too-short × long-mean-token barely touch. (The punctuation
    * filter the Gopher suite would add is deliberately absent: the
    * synthetic corpus contains zero sentence punctuation, and a filter
    * that can never fire audits nothing.)
    *
    * Scale shape: ONE corpus scan folds all four flags and all six pair
    * products in a single aggregate (map-side combined to one row);
    * `stack` unpivots the 1-row fold into the 6-row matrix. Nothing
    * quadratic, no self-join of the corpus.
    */
  def q391FilterRedundancy(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val toks = TextAnalysis.tokens(text)
    val m = documents(spark, dir).select(col("doc_id"), col("n_chars"),
      TextAnalysis.tokenCount(text).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      TextAnalysis.stopwordHits(toks, TextAnalysis.LangStopwords.head._2)
        .cast("long").as("stop_hits"))
    val f = m.select(
      expr("CASE WHEN n_tokens < 30 THEN 1L ELSE 0L END").as("a"),
      expr("CASE WHEN 3 * n_distinct < 2 * n_tokens THEN 1L ELSE 0L END").as("b"),
      expr("CASE WHEN stop_hits * 8 < n_tokens THEN 1L ELSE 0L END").as("c"),
      expr("CASE WHEN 1000 * n_chars > 5650 * n_tokens THEN 1L ELSE 0L END").as("d"))
    f.agg(sum("a").as("na"), sum("b").as("nb"), sum("c").as("nc"),
        sum("d").as("nd"),
        sum(expr("a * b")).as("nab"), sum(expr("a * c")).as("nac"),
        sum(expr("a * d")).as("nad"), sum(expr("b * c")).as("nbc"),
        sum(expr("b * d")).as("nbd"), sum(expr("c * d")).as("ncd"))
      .select(expr(
        """stack(6,
          |  'short|repetitive', na, nb, nab,
          |  'short|low_stopword', na, nc, nac,
          |  'short|long_tokens', na, nd, nad,
          |  'repetitive|low_stopword', nb, nc, nbc,
          |  'repetitive|long_tokens', nb, nd, nbd,
          |  'low_stopword|long_tokens', nc, nd, ncd)
          |AS (pair, n_a, n_b, n_both)""".stripMargin))
      .withColumn("jaccard_ppm",
        expr("(1000000L * n_both) div greatest(n_a + n_b - n_both, 1L)"))
  }

  private val q391Oracle =
    s"""WITH c AS (SELECT doc_id, n_chars, string_split($DNorm, ' ') AS toks
       |           FROM documents),
       |mm AS (SELECT doc_id, n_chars, len(toks)::BIGINT AS n_tokens,
       |        len(list_distinct(toks))::BIGINT AS n_distinct,
       |        len(list_filter(toks,
       |          x -> x IN ('the', 'a', 'of', 'to', 'and', 'is')))::BIGINT
       |          AS stop_hits
       |       FROM c),
       |f AS (SELECT
       |        CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END AS a,
       |        CASE WHEN 3 * n_distinct < 2 * n_tokens THEN 1 ELSE 0 END AS b,
       |        CASE WHEN stop_hits * 8 < n_tokens THEN 1 ELSE 0 END AS c2,
       |        CASE WHEN 1000 * n_chars > 5650 * n_tokens THEN 1 ELSE 0 END AS d
       |      FROM mm),
       |s AS (SELECT sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb,
       |        sum(c2)::BIGINT AS nc, sum(d)::BIGINT AS nd,
       |        sum(a * b)::BIGINT AS nab, sum(a * c2)::BIGINT AS nac,
       |        sum(a * d)::BIGINT AS nad, sum(b * c2)::BIGINT AS nbc,
       |        sum(b * d)::BIGINT AS nbd, sum(c2 * d)::BIGINT AS ncd
       |      FROM f),
       |u AS (
       |  SELECT 'short|repetitive' AS pair, na AS n_a, nb AS n_b, nab AS n_both FROM s
       |  UNION ALL SELECT 'short|low_stopword', na, nc, nac FROM s
       |  UNION ALL SELECT 'short|long_tokens', na, nd, nad FROM s
       |  UNION ALL SELECT 'repetitive|low_stopword', nb, nc, nbc FROM s
       |  UNION ALL SELECT 'repetitive|long_tokens', nb, nd, nbd FROM s
       |  UNION ALL SELECT 'low_stopword|long_tokens', nc, nd, ncd FROM s)
       |SELECT pair, n_a, n_b, n_both,
       |       ((1000000 * n_both) // greatest(n_a + n_b - n_both, 1))::BIGINT
       |         AS jaccard_ppm
       |FROM u""".stripMargin

  /** q384: Bloom-gated ingest dedup with machine-checked error accounting
    * — the Dolma-pipeline dedup discipline (a Bloom filter of everything
    * ingested gates each arriving document) in its RELATIONAL form: the
    * filter's set bits are ROWS (`bit = md5(j#fingerprint) mod m`,
    * j = 1..k), never a materialized bitmap, so "query the filter" is a
    * semi-join on bit ids and the same shape holds whether m is 2¹¹ or
    * 2⁴⁰. Two theorems gate the run: `no_false_neg` (a Bloom filter
    * NEVER misses — flagged ⊇ exact, structural) and `ok_bound`
    * (observed FP rate ≤ 2× the EXACT occupancy bound `(bits_set/m)^k`,
    * computed integer-ppm from the run's own bit count, not the
    * asymptotic `(1−e^{−kn/m})^k` approximation). m = 2048, k = 3 are
    * deliberately small so false positives actually occur at fixture
    * scale and the accounting is exercised, not vacuous.
    *
    * Scale shape: the seed side contracts to ≤ min(k·n, m) DISTINCT bit
    * rows (broadcast); the new side explodes ×k and counts semi-join
    * hits per doc — map-side against the broadcast; the readout is one
    * row. At corpus scale the bit table is still ≤ m rows.
    */
  def q384BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val m = 2048L
    val k = 3
    val docs = documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("f"))
    val seed = docs.filter(col("doc_id") < 250)
    val neu = docs.filter(col("doc_id") >= 250)
    def bits(df: DataFrame): DataFrame = df.select(col("doc_id"), col("f"),
      explode(array((1 to k).map(j =>
        pmod(Dedup.baseHash(concat(lit(s"$j#"), col("f"))), lit(m))): _*)).as("bit"))
    val seedBits = bits(seed).select("bit").distinct().localCheckpoint()
    val flagged = bits(neu).join(broadcast(seedBits), Seq("bit"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === k)
      .select(col("doc_id"), lit(1L).as("bloom_flag"))
    val exact = neu.join(seed.select("f").distinct(), Seq("f"), "left_semi")
      .select(col("doc_id"), lit(1L).as("exact_flag"))
    neu
      .join(flagged, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .crossJoin(broadcast(seedBits.agg(count(lit(1)).as("bits_set"))))
      .agg(count(lit(1)).as("n_new"),
        sum(coalesce(col("exact_flag"), lit(0L))).as("exact_dup"),
        sum(coalesce(col("bloom_flag"), lit(0L))).as("bloom_flagged"),
        sum(when(col("bloom_flag").isNotNull && col("exact_flag").isNull, 1L)
          .otherwise(0L)).as("false_pos"),
        sum(when(col("exact_flag").isNotNull && col("bloom_flag").isNull, 1L)
          .otherwise(0L)).as("false_neg"),
        max(col("bits_set")).as("bits_set"))
      .withColumn("fp_ppm",
        expr("(1000000L * false_pos) div greatest(n_new - exact_dup, 1L)"))
      .withColumn("bound_ppm",
        expr(s"(1000000L * bits_set * bits_set * bits_set) div (${m}L * ${m}L * ${m}L)"))
      .withColumn("no_false_neg",
        expr("CASE WHEN false_neg = 0L THEN 1L ELSE 0L END"))
      .withColumn("ok_bound",
        expr("CASE WHEN fp_ppm <= 2L * bound_ppm THEN 1L ELSE 0L END"))
      .select("n_new", "exact_dup", "bloom_flagged", "false_pos", "bits_set",
        "fp_ppm", "bound_ppm", "no_false_neg", "ok_bound")
  }

  private val q384Oracle =
    s"""WITH d AS (SELECT doc_id, md5($DNorm) AS f FROM documents),
       |seed AS (SELECT * FROM d WHERE doc_id < 250),
       |neu AS (SELECT * FROM d WHERE doc_id >= 250),
       |sb AS (SELECT DISTINCT
       |         ('0x' || substr(md5(j.j::VARCHAR || '#' || f), 1, 15))::BIGINT
       |           % 2048 AS bit
       |       FROM seed CROSS JOIN (SELECT unnest(range(1, 4)) AS j) j),
       |nb AS (SELECT doc_id, f,
       |         ('0x' || substr(md5(j.j::VARCHAR || '#' || f), 1, 15))::BIGINT
       |           % 2048 AS bit
       |       FROM neu CROSS JOIN (SELECT unnest(range(1, 4)) AS j) j),
       |fl AS (SELECT doc_id FROM nb JOIN sb USING (bit)
       |       GROUP BY doc_id, f HAVING count(*) = 3),
       |ex AS (SELECT doc_id FROM neu WHERE f IN (SELECT f FROM seed)),
       |agg AS (SELECT
       |    (SELECT count(*) FROM neu)::BIGINT AS n_new,
       |    (SELECT count(*) FROM ex)::BIGINT AS exact_dup,
       |    (SELECT count(*) FROM fl)::BIGINT AS bloom_flagged,
       |    (SELECT count(*) FROM fl
       |       WHERE doc_id NOT IN (SELECT doc_id FROM ex))::BIGINT AS false_pos,
       |    (SELECT count(*) FROM ex
       |       WHERE doc_id NOT IN (SELECT doc_id FROM fl))::BIGINT AS false_neg,
       |    (SELECT count(*) FROM sb)::BIGINT AS bits_set),
       |x AS (SELECT *,
       |    ((1000000 * false_pos) // greatest(n_new - exact_dup, 1))::BIGINT
       |      AS fp_ppm,
       |    ((1000000 * bits_set * bits_set * bits_set)
       |      // (2048::BIGINT * 2048 * 2048))::BIGINT AS bound_ppm
       |  FROM agg)
       |SELECT n_new, exact_dup, bloom_flagged, false_pos, bits_set, fp_ppm,
       |       bound_ppm,
       |       (CASE WHEN false_neg = 0 THEN 1 ELSE 0 END)::BIGINT
       |         AS no_false_neg,
       |       (CASE WHEN fp_ppm <= 2 * bound_ppm THEN 1 ELSE 0 END)::BIGINT
       |         AS ok_bound
       |FROM x""".stripMargin

  /** q375: rendezvous (highest-random-weight) resharding — the OTHER
    * minimal-movement assignment scheme beside q315's consistent-hash
    * ring (Thaler & Ravishankar 1996, the scheme memcached/Ceph-style
    * placement uses): every doc goes to `argmax over shards of
    * md5(doc|shard)`, and adding a 17th shard moves ONLY docs whose new
    * argmax IS the new shard — that is a THEOREM of HRW (existing
    * shards' weights are unchanged, so a changed argmax can only be the
    * newcomer), and the gate machine-checks it exactly
    * (`all_moves_to_new` = 1) alongside the measured move fraction
    * (ideal 1/17 ≈ 58823 ppm) and the 17-way balance spread.
    *
    * Scale shape: a ×17 generator explode contracted straight back by a
    * doc-keyed max_by — no global state, no ring metadata at all (the
    * operational advantage over the ring: nothing to store or rebalance).
    */
  def q375RendezvousShard(spark: SparkSession, dir: String): DataFrame = {
    def assign(nShards: Int, as: String): DataFrame =
      documents(spark, dir).select(col("doc_id"))
        .withColumn("shard", explode(expr(s"sequence(0L, ${nShards - 1}L)")))
        .withColumn("h", Dedup.baseHash(
          concat(col("doc_id").cast("string"), lit("|"),
            col("shard").cast("string"))))
        .groupBy("doc_id")
        .agg(max_by(col("shard"), struct(col("h"), col("shard"))).as(as))
    val both = assign(16, "a16").join(assign(17, "a17"), "doc_id")
    val moves = both.agg(count(lit(1)).as("n_docs"),
      sum(when(col("a16") =!= col("a17"), 1L).otherwise(0L)).as("moved"),
      sum(when(col("a16") =!= col("a17") && col("a17") =!= 16, 1L)
        .otherwise(0L)).as("bad_moves"))
      .select(col("n_docs"), col("moved"),
        expr("(1000000L * moved) div n_docs").as("moved_ppm"),
        expr("CASE WHEN bad_moves = 0 THEN 1L ELSE 0L END")
          .as("all_moves_to_new"))
    val loads = both.groupBy(col("a17").as("shard"))
      .agg(count(lit(1)).as("n_docs17"))
    val spread = loads.agg(
      expr("(1000000L * max(n_docs17)) div min(n_docs17)").as("spread17_ppm"))
    loads.crossJoin(broadcast(moves)).crossJoin(broadcast(spread))
      .select(col("shard"), col("n_docs17"), col("n_docs"), col("moved"),
        col("moved_ppm"), col("all_moves_to_new"), col("spread17_ppm"))
  }

  private val q375Oracle =
    """WITH sh16 AS (SELECT unnest(range(0, 16))::BIGINT AS shard),
      |sh17 AS (SELECT unnest(range(0, 17))::BIGINT AS shard),
      |a16 AS (SELECT doc_id, shard AS a16 FROM (
      |          SELECT d.doc_id, s.shard,
      |            row_number() OVER (PARTITION BY d.doc_id ORDER BY
      |              ('0x' || substr(md5(d.doc_id::VARCHAR || '|' ||
      |                 s.shard::VARCHAR), 1, 15))::BIGINT DESC,
      |              s.shard DESC) AS rn
      |          FROM documents d CROSS JOIN sh16 s) t WHERE rn = 1),
      |a17 AS (SELECT doc_id, shard AS a17 FROM (
      |          SELECT d.doc_id, s.shard,
      |            row_number() OVER (PARTITION BY d.doc_id ORDER BY
      |              ('0x' || substr(md5(d.doc_id::VARCHAR || '|' ||
      |                 s.shard::VARCHAR), 1, 15))::BIGINT DESC,
      |              s.shard DESC) AS rn
      |          FROM documents d CROSS JOIN sh17 s) t WHERE rn = 1),
      |b AS (SELECT a16.doc_id, a16.a16, a17.a17
      |      FROM a16 JOIN a17 USING (doc_id)),
      |mv AS (SELECT count(*)::BIGINT AS n_docs,
      |         sum(CASE WHEN a16 <> a17 THEN 1 ELSE 0 END)::BIGINT AS moved,
      |         sum(CASE WHEN a16 <> a17 AND a17 <> 16 THEN 1 ELSE 0 END)
      |           ::BIGINT AS bad_moves
      |       FROM b),
      |ld AS (SELECT a17 AS shard, count(*)::BIGINT AS n_docs17
      |       FROM b GROUP BY 1),
      |sp AS (SELECT ((1000000 * max(n_docs17)) // min(n_docs17))::BIGINT
      |         AS spread17_ppm FROM ld)
      |SELECT shard, n_docs17, mv.n_docs, mv.moved,
      |       ((1000000 * mv.moved) // mv.n_docs)::BIGINT AS moved_ppm,
      |       (CASE WHEN mv.bad_moves = 0 THEN 1 ELSE 0 END)::BIGINT
      |         AS all_moves_to_new,
      |       sp.spread17_ppm
      |FROM ld CROSS JOIN mv CROSS JOIN sp""".stripMargin

  /** q346: incremental-ingest pipeline — the round's new operators
    * COMPOSED into the production shape they exist for: today's delta
    * snapshot (q44 md5 gate) is chunked content-defined ([[Dedup
    * .cdcChunks]]), each document scored by how much of its token mass is
    * NEW against the base corpus's chunk-fingerprint set (q339's
    * machinery, per-doc), mostly-recrawled documents (< 50 % new) are
    * dropped, and the survivors are priority-sampled k=20 by length
    * ([[Sampling.prioritySample]]) — "ingest only what's genuinely new,
    * prefer substantial documents", one pipeline. Composition gets its own
    * oracle (the q28/q102 discipline): every stage is individually gated
    * elsewhere; this row pins their interaction.
    *
    * Scale shape: the chunk stages are q332/q339's (one doc-keyed shuffle
    * + tier-1 fp anti-join); the per-doc score is a map-side-combined agg
    * on the same doc key; the final draw is the k-heap. Nothing here
    * exceeds the component queries' cost envelopes.
    */
  def q346IncrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(documents(spark, dir))
    val gate = Sampling.hashGate(col("doc_id"), fraction = 0.25)
    val baseFp = Dedup.cdcChunks(docs.filter(!gate), boundaryMod = 8)
      .select("fp").distinct()
    val perDoc = Dedup.cdcChunks(docs.filter(gate), boundaryMod = 8)
      .join(baseFp.withColumn("__seen", lit(1)), Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(sum(col("n_tokens")).as("tok"),
        sum(when(col("__seen").isNull, col("n_tokens")).otherwise(0L)).as("new_tok"))
      .withColumn("new_ppm", expr("(1000000 * new_tok) div tok"))
      .filter(col("new_ppm") >= 500000)
    Sampling.prioritySample(
        docs.join(perDoc.select("doc_id", "new_ppm"), "doc_id"),
        k = 20, weight = col("n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("new_ppm"),
        col("priority"))
  }

  private def q346Oracle: String =
    s"""WITH ${cdcChunkCte("b", s"('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT >= $q339Threshold")},
       |${cdcChunkCte("d", s"('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT < $q339Threshold")},
       |bf AS (SELECT DISTINCT fp FROM gb),
       |pd AS (SELECT doc_id, sum(n_tok)::BIGINT AS tok,
       |         sum(CASE WHEN bf.fp IS NULL THEN n_tok ELSE 0 END)::BIGINT AS new_tok
       |       FROM gd LEFT JOIN bf ON gd.fp = bf.fp
       |       GROUP BY 1),
       |kept AS (SELECT doc_id, ((1000000 * new_tok) // tok)::BIGINT AS new_ppm
       |         FROM pd WHERE (1000000 * new_tok) // tok >= 500000)
       |SELECT d.doc_id, d.source, d.n_chars, kept.new_ppm,
       |       (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
       |          // greatest(d.n_chars, 1))::BIGINT AS priority
       |FROM documents d JOIN kept ON d.doc_id = kept.doc_id
       |ORDER BY priority ASC, d.doc_id ASC
       |LIMIT 20""".stripMargin

  /** q336: weighted priority sample ([[Sampling.prioritySample]]) — a
    * deterministic 50-doc draw with inclusion odds proportional to
    * `n_chars`, the "prefer long documents" corpus draw. Complements the
    * UNIFORM samplers (q44 hash gate, q45 stratified quota): here the
    * weight column shapes the distribution, with the Duffield-Lund-Thorup
    * priority construction keeping everything integer-exact and
    * partitioning-independent.
    *
    * Scale shape: map-side priority arithmetic + `TakeOrderedAndProject`
    * (per-partition k-heap, k rows of reduce state) — no full sort, no
    * shuffle beyond the k-row merge.
    */
  def q336PrioritySample(spark: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(fanOut(documents(spark, dir)), k = 50,
      weight = col("n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))

  private val q336Oracle =
    """SELECT doc_id, source, n_chars,
      |       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      |         // greatest(n_chars, 1) AS priority
      |FROM documents
      |ORDER BY priority ASC, doc_id ASC
      |LIMIT 50""".stripMargin

  // ---------------- registry ----------------

  val records: Seq[Query] = Seq(
    Query("q332_cdc_chunk_dedup", q332CdcChunkDedup, q332Oracle),
    Query("q336_priority_sample", q336PrioritySample, q336Oracle),
    Query("q339_chunk_increment", q339ChunkIncrement, q339Oracle),
    Query("q340_kmv_overlap", q340KmvOverlap, q340Oracle),
    Query("q341_stream_kmv", EventQueries.fixtureGate(q341StreamKmvSketch), q341Oracle),
    Query("q346_incremental_ingest", q346IncrementalIngest, q346Oracle),
    Query("q333_cov_profile", q333CovarianceProfile, q333Oracle),
    Query("q357_power_iteration", q357PowerIteration, q357Oracle),
    Query("q328_modality_qa", q328ModalityQa, q328Oracle),
    Query("q327_dup_quality_cross", q327DupQualityCross, q327Oracle),
    Query("q326_langid_eval", q326LangidEval, q326Oracle),
    Query("q315_reshard_plan", q315ReshardPlan, q315Oracle),
    Query("q308_matryoshka_recall", q308MatryoshkaRecall, q308Oracle),
    Query("q307_calibration", q307Calibration, q307Oracle),
    Query("q306_classifier_eval", q306ClassifierEval, q306Oracle),
    Query("q305_rank_metrics", q305RankMetrics, q305Oracle),
    Query("q304_hybrid_rrf", q304HybridRrf, q304Oracle),
    Query("q300_dsir_select", q300DsirSelect, q300Oracle),
    Query("q299_bpe_encode", q299BpeEncode, q299Oracle),
    Query("q298_mix_executed", q298MixExecuted, q298Oracle),
    Query("q297_term_churn", q297TermChurn, q297Oracle),
    Query("q295_span_mask_plan", q295SpanMaskPlan, q295Oracle),
    Query("q282_mix_rebalancer", q282MixRebalancer, q282Oracle),
    Query("q283_dedup_savings", q283DedupSavings, q283Oracle),
    Query("q281_pretokenizer", q281Pretokenizer, q281Oracle),
    Query("q277_next_purchase", q277NextPurchase, q277Oracle),
    Query("q276_damerau_pairs", q276DamerauPairs, q276Oracle),
    Query("q271_flesch", q271Flesch, q271Oracle),
    Query("q275_ref_integrity", q275RefIntegrity, q275Oracle),
    Query("q269_filtered_ann", q269FilteredAnn, q269Oracle),
    Query("q270_power_iteration", q270PowerIteration, q270Oracle),
    Query("q267_impute_lang", q267ImputeLang, q267Oracle),
    Query("q259_prefix_jaccard", q259PrefixJaccard, q259Oracle),
    Query("q221_fuzzy_parts", q221FuzzyParts, q221Oracle),
    Query("q224_lsh_sweep", q224LshSweep, q224Oracle),
    Query("q225_entity_clusters", q225EntityClusters, q225Oracle),
    Query("q226_bm25", q226Bm25, q226Oracle),
    Query("q227_bigram_cond", q227BigramCond, q227Oracle),
    Query("q366_textrank", q366TextRank, q366Oracle),
    Query("q369_stream_heavy_hitters", EventQueries.fixtureGate(q369StreamHeavyHitters),
      q369Oracle),
    Query("q374_snake_packing", q374SnakePacking, q374Oracle),
    Query("q375_rendezvous_shard", q375RendezvousShard, q375Oracle),
    Query("q378_exact_substr", q378ExactSubstr, q378Oracle),
    Query("q380_dup_coverage", q380DupCoverage, q380Oracle),
    Query("q381_epoch_shuffle", q381EpochShuffle, q381Oracle),
    Query("q382_apportion", q382Apportion, q382Oracle),
    Query("q383_stream_exact_substr", EventQueries.fixtureGate(q383StreamExactSubstr), q383Oracle),
    Query("q384_bloom_dedup", q384BloomDedup, q384Oracle),
    Query("q385_span_rewrite", q385SpanRewrite, q385Oracle),
    Query("q387_stream_bloom", EventQueries.fixtureGate(q387StreamBloom), q387Oracle),
    Query("q389_curriculum", q389Curriculum, q389Oracle),
    Query("q391_filter_redundancy", q391FilterRedundancy, q391Oracle),
    Query("q392_substr_reconcile", q392SubstrReconcile, q392Oracle),
    Query("q393_source_tvd", q393SourceTvd, q393Oracle),
    Query("q395_jl_ann", q395JlAnn, annRecallOracle),
    Query("q386_quality_keeper", q386QualityKeeper, q386Oracle),
    Query("q229_pq_ann", q229PqAnn, annRecallOracle),
    Query("q230_ivfpq_ann", q230IvfPqAnn, annRecallOracle),
    Query("q233_stream_dedup_index", EventQueries.fixtureGate(q233StreamDedupIndex), q233Oracle),
    Query("q237_ks_test", q237KsTest, q237Oracle),
    Query("q241_burstiness", q241Burstiness, q241Oracle),
    Query("q242_hard_negatives", q242HardNegatives, q242Oracle),
    Query("q243_bpe_train", q243BpeTrain, q243Oracle),
    Query("q218_encoding_advisor", q218EncodingAdvisor, q218Oracle),
    Query("q20_dedup_exact", q20DedupExact, q20Oracle),
    Query("q26_dedup_keep", q26DedupKeep, q26Oracle),
    Query("q27_dup_clusters", q27DupClusters, q27Oracle),
    Query("q28_dedup_pipeline", q28DedupPipeline, q28Oracle),
    Query("q102_curation_pipeline", q102CurationPipeline, q102Oracle),
    Query("q29_dedup_incremental", q29DedupIncremental, q29Oracle),
    Query("q21_dedup_minhash", q21DedupMinhash, q21Oracle),
    Query("q22_dedup_simhash", q22DedupSimhash, q22Oracle),
    Query("q25_simhash_pairs", q25SimhashPairs, q25Oracle),
    Query("q23_ngram_jaccard", q23NgramJaccard, q23Oracle),
    Query("q95_edit_distance", q95EditDistance, q95Oracle),
    Query("q24_embed_neardup", q24EmbedNearDup, q24Oracle),
    Query("q74_semantic_dedup", q74SemanticDedup, q74Oracle),
    Query("q77_knn_classify", q77KnnClassify, q77Oracle),
    Query("q78_sq8_centroids", q78Sq8Centroids, q78Oracle),
    Query("q30_knn_brute", q30KnnBruteForce, q30Oracle),
    Query("q31_knn_lsh", q31KnnLsh, annRecallOracle),
    Query("q32_knn_ivf", q32KnnIvf, annRecallOracle),
    Query("q34_ivf_probe", q34IvfProbe, annRecallOracle),
    Query("q33_sq8", q33Sq8, q33Oracle),
    Query("q98_sql_kernels", q98SqlKernels, q98Oracle),
    Query("q40_lang_id", q40LangId, q40Oracle),
    Query("q41_quality", q41Quality, q41Oracle),
    Query("q46_ngram_lang", q46NgramLang, q46Oracle),
    Query("q42_token_stats", q42TokenStats, q42Oracle),
    Query("q43_fingerprint", q43Fingerprint, q43Oracle),
    Query("q44_hash_sample", q44HashSample, q44Oracle),
    Query("q45_stratified_quota", q45StratifiedQuota, q45Oracle),
    Query("q57_weighted_mix", q57WeightedMix, q57Oracle),
    Query("q80_split_assign", q80SplitAssign, q80Oracle),
    Query("q58_token_pack", q58TokenPack, q58Oracle),
    Query("q129_compaction_plan", q129CompactionPlan, q129Oracle),
    Query("q59_line_dedup", q59LineDedup, q59Oracle),
    Query("q104_chunk_overlap", q104ChunkOverlap, q104Oracle),
    Query("q75_commonness", q75Commonness, q75Oracle),
    Query("q76_collocations", q76Collocations, q76Oracle),
    Query("q85_gopher_rules", q85GopherRules, q85Oracle),
    Query("q47_profile", q47Profile, q47Oracle),
    Query("q48_decontaminate", q48Decontaminate, q48Oracle),
    Query("q49_contamination_report", q49ContaminationReport, q49Oracle),
    Query("q54_pii_redact", q54PiiRedact, q54Oracle),
    Query("q55_repetition", q55Repetition, q55Oracle),
    Query("q71_tfidf", q71Tfidf, q71Oracle),
    Query("q72_vocab", q72Vocab, q72Oracle),
    Query("q145_ngram_novelty", q145NgramNovelty, q145Oracle),
    Query("q146_pack_stats", q146PackStats, q146Oracle),
    Query("q155_cross_source", q155CrossSource, q155Oracle),
    Query("q156_padding_waste", q156PaddingWaste, q156Oracle),
    Query("q157_freq_spectrum", q157FreqSpectrum, q157Oracle),
    Query("q158_pack_segments", q158PackSegments, q158Oracle),
    Query("q172_phash_clusters", q172PhashClusters, q172Oracle),
    Query("q182_heaps_curve", q182HeapsCurve, q182Oracle),
    Query("q184_containment", q184Containment, q184Oracle),
    Query("q195_embed_norms", q195EmbedNorms, q195Oracle),
    Query("q198_audio_fingerprint", q198AudioFingerprint, q198Oracle),
    Query("q204_hilbert_key", q204HilbertKey, q204Oracle),
    Query("q205_layout_shootout", q205LayoutShootout, q205Oracle),
    Query("q211_bpe_round", q211BpeRound, q211Oracle),
    Query("q212_dataset_card", q212DatasetCard, q212Oracle),
    Query("q196_shard_skew", q196ShardSkew, q196Oracle),
    Query("q197_token_compression", q197TokenCompression, q197Oracle),
    Query("q168_freq_decay", q168FreqDecay, q168Oracle),
    Query("q169_embed_dim_stats", q169EmbedDimStats, q169Oracle),
    Query("q170_posting_lists", q170PostingLists, q170Oracle),
    Query("q171_zone_maps", q171ZoneMaps, q171Oracle),
    Query("q160_centroid_sep", q160CentroidSep, q160Oracle),
    Query("q161_percentile_floor", q161PercentileFloor, q161Oracle),
    Query("q162_balanced_sample", q162BalancedSample, q162Oracle),
    Query("q147_oov_rate", q147OovRate, q147Oracle),
    Query("q148_length_survival", q148LengthSurvival, q148Oracle),
    Query("q149_token_quota", q149TokenQuota, q149Oracle),
    Query("q150_shard_assign", q150ShardAssign, q150Oracle),
    Query("q151_mixture_plan", q151MixturePlan, q151Oracle),
    Query("q152_shard_append", q152ShardAppend, q152Oracle),
    Query("q61_asof_join", q61AsofJoin, q61Oracle),
    Query("q65_salted_join", q65SaltedJoin, q65Oracle),
    Query("q109_bloom_semi_join", q109BloomSemiJoin, q109Oracle),
    Query("q110_bucketed_join", q110BucketedJoin, q110Oracle),
    Query("q111_salted_distinct", q111SaltedDistinct, q111Oracle),
    Query("q116_zorder_key", q116ZOrderKey, q116Oracle),
    Query("q66_percentiles", q66Percentiles, q66Oracle),
    Query("q87_approx_percentiles", q87ApproxPercentiles, q87Oracle),
    Query("q62_range_join", q62RangeJoin, q62Oracle),
    Query("q50_multimodal", q50Multimodal, q50Oracle),
    Query("q51_frame_sample", q51FrameSample, q51Oracle),
    Query("q52_resize_extract", q52ResizeExtract, q52Oracle),
    Query("q53_image_decode", q53ImageDecode, q53Oracle),
    Query("q56_audio_decode", q56AudioDecode, q56Oracle),
    Query("q396_gif_frames", q396GifFrames, q396Oracle),
    Query("q397_jl_sweep", q397JlSweep, q397Oracle),
    Query("q398_frame_seq_dedup", q398FrameSeqDedup, q398Oracle),
    Query("q399_ivf_nprobe_sweep", q399IvfNprobeSweep, q399Oracle),
    Query("q400_stream_ivf_ingest", EventQueries.fixtureGate(q400StreamIvfIngest), q400Oracle),
    Query("q401_adaptive_probe", q401AdaptiveProbe, q401Oracle)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.runs(records)
}
