package graft.llm

import graft.{SharedIndex, U}
import graft.llm.TextUtil._
import graft.plans.PolyHash.M
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.10 — deduplication family over `documents`:
  *
  *  - `dedup_exact`: content-hash (SHA-256) exact dedup, window-pick-first.
  *  - `dedup_jaccard`: exact near-dup pairs — 3-gram shingles → inverted
  *    index (explode + self-join on shingle) → exact Jaccard >= 0.2. The
  *    inverted index has 100% recall for any Jaccard > 0, so this is fully
  *    oracle-able; at 100 TB you'd cap shingle doc-frequency to bound the
  *    hottest posting lists (skew), which only drops stop-shingles.
  *  - `dedup_minhash`: MinHash signatures (16 perms) + LSH banding (4x4) →
  *    candidates → exact-Jaccard verify. Probabilistic recall => no SQL
  *    oracle (rows-only gate); MinhashSpec asserts it against dedup_jaccard.
  *  - `dedup_simhash`: 60-bit SimHash + direct pairwise popcount for
  *    hamming <= 3 pairs (band blocking degenerates on this corpus — see
  *    the method comment for the measurement) => oracle-able exactly.
  *
  * All hashes are the shared polynomial hash (plans.PolyHash) — integer
  * arithmetic reproducible in DuckDB, unlike engine-native murmur3.
  */
object Dedup {

  private def docs(s: SparkSession, d: String) = U.tbl(s, d, "documents")

  /** Shared shingle+hash frame (a [[graft.SharedIndex]] entry): the
    * Jaccard, MinHash and SimHash queries all start from it, so the corpus
    * is shingled once per session (codegen'd Shingles3 + PolyHashArray). */
  private val shingleIndex = SharedIndex[DataFrame]("shingled", Seq(
      "dedup_incremental", "dedup_minhash", "dedup_minhash_estimate",
      "dedup_simhash", "text_novelty", "text_source_overlap"),
      Seq(_)) { (s, d) =>
    val df = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), graft.plans.CustomExprs.shingles3_fast(col("toks")).as("ss"))
      .filter(size(col("ss")) > 0)
      .withColumn("hs", graft.plans.CustomExprs.poly_hash_array(col("ss"), 13L))
      .persist()
    df
  }
  private[llm] def shingled(s: SparkSession, d: String): DataFrame =
    shingleIndex.get(s, d)

  private def dedupExact(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** Prefix dedup: group documents by their first-8-token prefix — the
    * template/boilerplate-head screen exact-hash dedup misses (two docs
    * sharing a generated opening but diverging later). Same one-shuffle
    * hash-agg shape as [[dedupExact]], keyed on a bounded-length string
    * instead of the full-text digest; at 100 TB the prefix (not the text)
    * is all that shuffles. */
  private def dedupPrefix(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 8), " ").as("prefix"))
      .groupBy(col("prefix"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy("keeper")

  /** Hottest-allowed posting list for the Jaccard inverted index. A shingle
    * appearing in more docs than this is a stop-shingle: its posting list
    * contributes O(df^2) candidate pairs (the quadratic bomb at 100 TB) and
    * near-zero Jaccard signal. Fixture max df is 25 at sf0.1, so the cap
    * drops nothing at test scale — the oracle applies the identical cap, so
    * both engines agree at ANY scale either way. */
  private[llm] val ShingleDfCap = 1000L

  /** Shingle-set pairs with exact Jaccard >= 0.2 via the inverted index
    * ([[jaccardPairsOn]] over the shared pair frame). */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsShared(s, d)
      .filter(col("jac") >= 0.2)
      .select(col("da"), col("db"), col("common"), col("jac"))
      .orderBy("da", "db")

  /** Asymmetric containment dedup — the near-SUBSET complement of Jaccard:
    * doc A is contained in doc B when |shingles(A) ∩ shingles(B)| /
    * |shingles(A)| >= 0.8 (either direction). Jaccard misses these pairs
    * when the containing doc is much larger (common/na = 1 can coexist
    * with jac = na/nb ~ 0), which is exactly the boilerplate-wrapper /
    * quoted-reply shape a corpus dedup must catch. Same inverted-index
    * candidates, re-scored per side — no new shuffle (served from the
    * shared pair cache), and the identical division tree in the oracle. */
  private def containmentPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsShared(s, d)
      .withColumn("c_a", col("common").cast(DoubleType) / col("na").cast(DoubleType))
      .withColumn("c_b", col("common").cast(DoubleType) / col("nb").cast(DoubleType))
      .filter(greatest(col("c_a"), col("c_b")) >= 0.8)
      .select(col("da"), col("db"), col("common"), col("c_a"), col("c_b"))
      .orderBy("da", "db")

  /** The scored candidate-pair frame (da, db, na, nb, common, jac) — all
    * pairs sharing >= 1 df-capped shingle, UNfiltered so every consumer
    * applies its own threshold: dedup_jaccard keeps jac >= 0.2,
    * dedup_clusters closes over the same set, dedup_containment re-scores
    * asymmetrically. A [[graft.SharedIndex]] entry: the inverted-index
    * self-join — the expensive half of all three queries — executes once
    * per session. Caching the unfiltered frame is
    * a shared-corpus convenience (1.1M narrow rows at sf0.1): at 100 TB the
    * candidate frame is the self-join's output either way; a deployment
    * that can't cache it persists each consumer's filtered view instead —
    * the thresholds commute with the cache, not with the join. */
  private val pairsIndex = SharedIndex[DataFrame]("jaccardPairsShared", Seq(
      "dedup_cluster_purity", "dedup_clusters", "dedup_compare",
      "dedup_containment", "dedup_jaccard", "dedup_lsh_recall",
      "dedup_soft_weights", "dedup_source_rate", "dedup_text_vs_embedding",
      "dedup_threshold_curve", "pipeline_curate", "pipeline_split_leakage"),
      Seq(_)) { (s, d) =>
    jaccardPairsOn(shingled(s, d), ShingleDfCap).persist()
  }

  /** The inverted-index Jaccard kernel behind [[jaccardPairsShared]] and
    * [[graft.api.GraftApi.nearDupPairs]] over a (doc_id, ss) shingle-set
    * frame: shingles in more than `dfCap` documents are stop-shingles and
    * drop out of the index (the quadratic-bomb control — they still count
    * in each document's total, so jac is a lower bound for pairs sharing
    * them). The df-cap window runs partitioned by shingle — the same hash
    * partitioning the self-join requires, so the cap costs no extra
    * shuffle. Returns every pair sharing >= 1 kept shingle as (da, db, na,
    * nb, common, jac), da < db. */
  private[graft] def jaccardPairsOn(sh: DataFrame, dfCap: Long): DataFrame = {
    val inv = sh.select(col("doc_id"), size(col("ss")).cast(LongType).as("n_sh"),
        explode(col("ss")).as("sg"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("sg"))))
      .filter(col("df") <= lit(dfCap))
      .drop("df")
    val a = inv.select(col("doc_id").as("da"),
      col("n_sh").as("na"), col("sg"))
    val b = inv.select(col("doc_id").as("db"),
      col("n_sh").as("nb"), col("sg"))
    a.join(b, Seq("sg")).filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jac", col("common").cast(DoubleType) /
        (col("na") + col("nb") - col("common")).cast(DoubleType))
  }

  private[llm] def jaccardPairsShared(s: SparkSession, d: String): DataFrame =
    pairsIndex.get(s, d)

  /** MinHash + LSH banding, then exact-Jaccard verification of candidates.
    * Signatures come from the codegen'd MinHashSigs kernel (one pass over
    * the shingle hashes instead of nPerm interpreted scans); candidate
    * pairs are deduped as bare (da, db) BEFORE the shingle arrays join back
    * in, so the banding shuffle never carries arrays. */
  /** The LSH band-candidate pairs (pre-verification) — the ONE definition
    * [[minhashPairs]] verifies and [[lshRecall]] measures. FOUR consumers
    * (recall gate, estimator gate, edit verify, containment), so the
    * frame is a [[graft.SharedIndex]] entry — each call used to rebuild
    * signatures + the band self-join (~1.5 s of every consumer's warm
    * time at sf0.1). */
  private val candIndex = SharedIndex[DataFrame]("bandCandidates", Seq(
      "dedup_edit_verify", "dedup_lsh_recall", "dedup_minhash",
      "dedup_minhash_estimate"), Seq(_)) { (s, d) =>
    val df = bandCandidatesBuild(s, d).persist()
    df.count()
    df
  }
  private def bandCandidates(s: SparkSession, d: String): DataFrame =
    candIndex.get(s, d)

  private def bandCandidatesBuild(s: SparkSession, d: String): DataFrame = {
    val nPerm = 16
    val signed = shingled(s, d).select(col("doc_id"),
      graft.plans.CustomExprs.minhash_sigs(col("hs"), nPerm).as("sigs"))
    val bands = (0 until 4).map { bIdx =>
      signed.select(col("doc_id"), lit(bIdx).as("band"),
        concat_ws(":", (0 until 4).map(r => element_at(col("sigs"), bIdx * 4 + r + 1)): _*)
          .as("bkey"))
    }.reduce(_ unionByName _)
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** Edit-distance verification of the LSH band candidates — the
    * character-level second opinion a near-dup pipeline keeps beside
    * shingle Jaccard (small in-place edits crater 3-shingle overlap while
    * barely moving edit distance, and vice versa for reorderings):
    * every banded candidate pair ships levenshtein(text_a, text_b)
    * (exact integer; cross-engine builtin parity proven by fn_string's
    * lev_to_type column) and the normalized similarity
    * (maxlen − lev)·1e6 DIV maxlen. The text join touches ONLY the
    * candidate pairs — the band-key equijoin output, never corpus² —
    * and candidate counts are LSH-bounded at any corpus size. */
  private def dedupEditVerify(s: SparkSession, d: String): DataFrame =
    editVerifyOn(bandCandidates(s, d),
      U.tbl(s, d, "documents").select(col("doc_id"), col("text")))

  /** The edit-verification kernel over any (da, db) candidate frame +
    * (doc_id, text) corpus — shared by the declared query and
    * [[graft.api.GraftApi.editVerify]]. */
  private[graft] def editVerifyOn(cand: DataFrame,
      txt: DataFrame): DataFrame = {
    cand
      .join(txt.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(txt.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast(LongType))
      .withColumn("maxlen",
        greatest(length(col("ta")), length(col("tb"))).cast(LongType))
      .select(col("da"), col("db"), col("lev"), col("maxlen"),
        expr("(1000000 * (maxlen - lev)) DIV maxlen").as("editsim_micro"))
      .orderBy("da", "db")
  }

  /** LSH candidate recall MEASURED: of the pairs the df-capped exact
    * index scores at jaccard >= 0.2 (the dedup_jaccard truth set), what
    * share did MinHash banding surface as candidates? — the quality gate
    * a deployment checks before the bands replace the exact index (the
    * text sibling of sim_recall_at_k). Both sides are the library's own
    * declared kernels (one definition each); the measurement is one
    * semi join + three counts, and the oracle nests both queries'
    * oracles so the three cannot drift. */
  private def lshRecall(s: SparkSession, d: String): DataFrame = {
    val truth = jaccardPairsShared(s, d).filter(col("jac") >= 0.2)
      .select(col("da"), col("db"))
    val cand = bandCandidates(s, d)
    val hit = truth.join(
      cand.select(col("da").as("ca"), col("db").as("cb")),
      col("da") === col("ca") && col("db") === col("cb"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("(1000000 * n_hit) DIV n_truth").as("recall_micro"))
  }

  /** Near-duplication rate BY SOURCE: the share of each source's docs
    * that sit in at least one cross-doc near-dup pair (jac >= 0.2) —
    * "which crawl is the most redundant", the per-source report a corpus
    * curator reads before setting mixing weights (dedup_compare ranks
    * strategies; this ranks SOURCES). Served from the shared pair cache
    * — no new self-join; one doc-keyed left join + one |sources| agg,
    * rate in exact micro-units. */
  private def dedupSourceRate(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPairsShared(s, d).filter(col("jac") >= 0.2)
    val dup = pairs.select(col("da").as("doc_id"))
      .unionByName(pairs.select(col("db").as("doc_id")))
      .distinct().withColumn("isdup", lit(1L))
    docs(s, d).select(col("doc_id"), col("source"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        expr("(1000000 * n_dup) DIV n_docs").as("dup_rate_micro"))
      .orderBy("source")
  }

  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val base = shingled(s, d)
    val cand = bandCandidates(s, d)
    cand
      .join(base.select(col("doc_id").as("da"), col("ss").as("ssa")), "da")
      .join(base.select(col("doc_id").as("db"), col("ss").as("ssb")), "db")
      .withColumn("common", size(array_intersect(col("ssa"), col("ssb"))).cast(LongType))
      .withColumn("jac", col("common").cast(DoubleType) /
        (size(col("ssa")) + size(col("ssb")) - col("common")).cast(DoubleType))
      .filter(col("jac") >= 0.2)
      .select(col("da"), col("db"), col("common"), col("jac"))
      .orderBy("da", "db")
  }

  /** Incremental (cross-snapshot) dedup against a PERSISTED MinHash band
    * index — the nightly-ingest shape production runs: yesterday's corpus
    * (doc_id % 10 != 7) has its (band, bkey, doc_id) LSH index WRITTEN to
    * parquet once (the `sim_index_persist` discipline applied to MinHash
    * bands), and tonight's batch (doc_id % 10 == 7) computes its own bands
    * fresh and probes the LOADED index — history documents are never
    * re-shingled at probe time. Candidates (batch doc × indexed doc
    * sharing any band key) verify by exact Jaccard over the shingle sets,
    * kept at jac >= 0.2. Within-batch pairs are deliberately absent: the
    * incremental contract dedups tonight AGAINST history only
    * (`dedup_minhash` is the full-corpus pass). Scale shape: the index
    * probe is an equijoin on the band key — only (band, bkey, doc_id)
    * tuples shuffle, never signatures or shingles; at 100 TB the parquet
    * index is the accumulating nightly artifact and each batch's probe
    * cost is |batch|·bands, independent of history size. */
  /** Cheap corpus fingerprint for persisted-index scratch tags: a stable
    * hash of (name, length, mtime) for the sfDir's documents.parquet —
    * its part files when it is a directory, the file ITSELF when it is a
    * plain single-file parquet (every shipped fixture is; listFiles()
    * returns null there, and an early cut hashed the empty string for
    * every generation, which silently disabled the staleness guard this
    * exists to provide). Pure filesystem metadata, no data read. Two
    * generations of the same logical corpus produce different tags, so a
    * write-if-absent index can never outlive the bytes it indexed. */
  private def corpusFingerprint(d: String): String = {
    val dir = new java.io.File(s"$d/documents.parquet")
    val files = Option(dir.listFiles()).getOrElse(Array(dir))
    val parts = files
      .map(f => s"${f.getName}:${f.length()}:${f.lastModified()}")
      .sorted.mkString("|")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(parts.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** The persisted history band index, write-if-absent on disk (r13
    * ADVICE: the kernel used to rebuild+overwrite the parquet index on
    * every invocation — history was re-shingled per call, and two JVMs
    * sharing an sfDir could race overwrite-delete against a lazy
    * re-read). A missing index builds under a JVM-unique temp name and
    * renames atomically into place; a lost race discards the temp — the
    * winner's bytes are the same deterministic function of the corpus.
    * Probing the LOADED index is the query's semantics, so each call
    * reads it back; no in-memory memo (one consumer only). */
  private def bandIndexFrame(s: SparkSession, d: String,
      histBands: => DataFrame): DataFrame = {
    // the tag carries a version (bump on shingle/minhash kernel
    // changes) AND a corpus fingerprint (r14 ADVICE): the on-disk
    // index survives JVM restarts, so if the parquet under an sfDir
    // path is ever REGENERATED the manual version tag alone would
    // silently serve candidates from the stale index. The
    // fingerprint folds each documents.parquet part-file's name,
    // length, and mtime into the tag — a data change invalidates
    // the index automatically, no human bump required.
    val path = U.scratch(d,
      s"minhash_band_index_v2_${corpusFingerprint(d)}")
    val dir = new java.io.File(path)
    if (!dir.exists()) {
      val tmp = path + ".tmp" + java.lang.ProcessHandle.current().pid()
      histBands.write.mode("overwrite").parquet(tmp)
      val t = new java.io.File(tmp)
      if (!t.renameTo(dir)) rmTree(t) // lost the race: same bytes won
    }
    s.read.parquet(path)
  }

  private def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmTree)
    f.delete()
    ()
  }

  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val nPerm = 16
    val base = shingled(s, d)
    val signed = base.select(col("doc_id"),
      graft.plans.CustomExprs.minhash_sigs(col("hs"), nPerm).as("sigs"))
    val bands = (0 until 4).map { bIdx =>
      signed.select(col("doc_id"), lit(bIdx.toLong).as("band"),
        concat_ws(":", (0 until 4).map(r =>
          element_at(col("sigs"), bIdx * 4 + r + 1)): _*).as("bkey"))
    }.reduce(_ unionByName _)
    val idx = bandIndexFrame(s, d, bands.filter(col("doc_id") % 10 =!= 7))
    val cand = bands.filter(col("doc_id") % 10 === 7)
      .join(idx.select(col("band").as("ib"), col("bkey").as("ik"),
          col("doc_id").as("hist_id")),
        col("band") === col("ib") && col("bkey") === col("ik"))
      .select(col("doc_id").as("da"), col("hist_id").as("db"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("da"), col("ss").as("ssa")), "da")
      .join(base.select(col("doc_id").as("db"), col("ss").as("ssb")), "db")
      .withColumn("common",
        size(array_intersect(col("ssa"), col("ssb"))).cast(LongType))
      .withColumn("jac", col("common").cast(DoubleType) /
        (size(col("ssa")) + size(col("ssb")) - col("common")).cast(DoubleType))
      .filter(col("jac") >= 0.2)
      .select(col("da"), col("db"), col("common"), col("jac"))
      .orderBy("da", "db")
  }

  /** MinHash estimator quality MEASURED per candidate pair — the check a
    * deployment runs before trusting signature agreement as a Jaccard
    * proxy: for every LSH band candidate, the classic estimator
    * ĵ = (#agreeing signature positions)/16 beside the exact Jaccard,
    * with |ĵ − j| in micro-units (E[ĵ] = j; the per-pair error at
    * nPerm=16 is what this table makes visible — dedup_lsh_recall gates
    * WHICH pairs surface, THIS gates how well their scores estimate).
    * Everything integer: agreement counts, exact intersection, floored
    * micro errors; the oracle recomputes signatures AND truth. Same
    * banded candidate shape as dedup_minhash — no new pair frame. */
  private def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val nPerm = 16
    val base = shingled(s, d)
    val signed = base.select(col("doc_id"),
      graft.plans.CustomExprs.minhash_sigs(col("hs"), nPerm).as("sigs"))
    val cand = bandCandidates(s, d)
    val agree = (1 to nPerm).map(i =>
      when(element_at(col("siga"), i) === element_at(col("sigb"), i), 1L)
        .otherwise(0L)).reduce(_ + _)
    cand
      .join(signed.select(col("doc_id").as("da"), col("sigs").as("siga")), "da")
      .join(signed.select(col("doc_id").as("db"), col("sigs").as("sigb")), "db")
      .join(base.select(col("doc_id").as("da"), col("ss").as("ssa")), "da")
      .join(base.select(col("doc_id").as("db"), col("ss").as("ssb")), "db")
      .withColumn("n_agree", agree)
      .withColumn("common",
        size(array_intersect(col("ssa"), col("ssb"))).cast(LongType))
      .select(col("da"), col("db"), col("n_agree"),
        expr("(1000000 * n_agree) DIV 16").as("est_micro"),
        expr("CAST((1000000 * common) DIV " +
          "(size(ssa) + size(ssb) - common) AS BIGINT)").as("jac_micro"))
      .withColumn("abs_err_micro",
        abs(col("est_micro") - col("jac_micro")))
      .orderBy("da", "db")
  }

  /** 60-bit SimHash per doc + hamming<=3 pairs, via 4x15-bit band blocking.
    * Hashed over 3-gram SHINGLES, not tokens: the fixture vocab is shared
    * across all docs, so token-level simhashes collapse together; shingle
    * sets separate near-dups from noise.
    *
    * Pigeonhole: a pair at hamming<=3 differs in at most 3 of the 4 bands,
    * so it collides in at least one — banding has EXACT recall and the
    * output is byte-identical to the all-pairs scan (same DuckDB oracle).
    *
    * Scale shape: an equijoin on the 15-bit band key (hash-partitioned, no
    * crossJoin/nested-loop — PlanSpec asserts it), with the popcount verify
    * FUSED into the join condition. That fusion is what makes banding viable
    * even on this low-diversity corpus: round 1 measured banding at 31 s
    * because all candidate pairs were materialized through a distinct
    * shuffle before verification; filtering inside the join keeps the n^2
    * degenerate-bucket term a codegen'd popcount scan (never shuffled), and
    * the final distinct only sees verified hamming<=3 pairs. On a diverse
    * corpus buckets are tiny and the whole thing is genuinely
    * sub-quadratic — the 100 TB shape. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val banded = simhashed(s, d).select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        // band key = band index tag | 15-bit chunk b of the simhash
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7fffL)) +
          lit(b.toLong << 15)
      }: _*)).as("bkey"))
    val a = banded.select(col("bkey"), col("doc_id").as("da"), col("simhash").as("ha"))
    val b = banded.select(col("bkey").as("bkeyb"), col("doc_id").as("db"),
      col("simhash").as("hb"))
    a.join(b, col("bkey") === col("bkeyb") && col("da") < col("db") &&
        expr("bit_count(ha ^ hb) <= 3"))
      .select(col("da"), col("db"), expr("bit_count(ha ^ hb)").cast(LongType).as("hamming"))
      .distinct() // a pair may collide in several bands
      .orderBy("da", "db")
  }

  /** doc_id -> simhash frame shared by the banded query and the test-only
    * exact scan. */
  private def simhashed(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .withColumn("simhash", graft.plans.CustomExprs.simhash60(col("hs")))
      .select(col("doc_id"), col("simhash"))

  /** Test-only cross-check: direct all-pairs popcount (the round-1 shape).
    * O(n^2) shuffle-free scan — correct at any sf but not the scale path;
    * LlmSpec asserts it equals the banded query exactly. */
  private[graft] def simhashPairsExact(s: SparkSession, d: String): DataFrame = {
    val sh = simhashed(s, d)
    val a = sh.select(col("doc_id").as("da"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("db"), col("simhash").as("hb"))
    a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast(LongType))
      .filter(col("hamming") <= 3)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy("da", "db")
  }

  /** Near-dup clustering: connected components over the exact-Jaccard pair
    * set + keeper pick — the step that turns pairwise dedup output into an
    * actionable "drop these docs" assignment.
    *
    * Min-label propagation as pure DataFrame ops: every doc starts labeled
    * with its own id; each round takes the min over neighbors' labels; at
    * fixpoint every component carries its min doc_id as cluster_id. Rounds
    * = component diameter (near-dup clusters are shallow — a handful of
    * rounds; the loop is bounded and persist/unpersist-disciplined like the
    * IVF Lloyd loop). Convergence is detected by the label-sum, which is
    * strictly decreasing until fixpoint (labels only ever decrease);
    * summed in DECIMAL(38,0) so the check cannot overflow at any corpus
    * size. Fully deterministic => recursive-CTE DuckDB oracle. */
  private def clusterAssign(s: SparkSession, d: String): DataFrame = {
    // The iteration is latency-bound, not bandwidth-bound: each round is a
    // couple of joins over the (tiny relative to the corpus) label/edge
    // frames plus a driver-synchronized convergence check, so the fixed
    // per-round scheduling cost scales with shuffle width. 8 partitions for
    // the loop; a production run sizes this by |pairs|, not by corpus rows.
    U.withConfs(s, "spark.sql.shuffle.partitions" -> "8")(clusterAssignLoop(s, d))
  }

  /** Edge-count threshold for the single-task union-find fast path — shared
    * with `graph_cc` via [[graft.operators.Components.DsuEdgeCap]]. The
    * VERIFIED near-dup pair set is orders of magnitude smaller than the
    * corpus (257 pairs from 5k docs at sf0.1); below this bound a one-task
    * DSU finishes in a single job, where the distributed loop pays ~6
    * shuffles per materialization plus a driver sync per convergence check
    * (measured 12 s vs <1 s at sf0.1). Above it — billions of pairs at
    * 100 TB — the iterative path engages unchanged. Both produce the same
    * min-id labeling, so the oracle does not care which ran. */
  private[llm] val DsuEdgeCap = graft.operators.Components.DsuEdgeCap

  private def clusterAssignLoop(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPairsShared(s, d)
      .filter(col("jac") >= 0.2).select(col("da"), col("db"))
    val edges = pairs.union(pairs.select(col("db"), col("da"))).toDF("u", "v")
    // size-gated DSU-vs-propagation dispatch lives in Components.labels
    val lab = graft.operators.Components.labels(edges, DsuEdgeCap)
      .toDF("doc_id", "cluster")
    // a doc with no near-dup pair never enters the labeling; it rejoins as
    // its own singleton cluster here
    val singles = docs(s, d).select(col("doc_id"))
      .join(lab.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"))
    lab.unionByName(singles)
      .select(col("doc_id"), col("cluster").as("cluster_id"),
        (col("doc_id") === col("cluster")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Dedup-strategy comparison card: how many docs (and how much text)
    * survive each keeper policy — exact content hash, first-8-token
    * prefix, and near-dup cluster representative. The side-by-side a
    * curation run consults before committing to a policy; each stage is
    * the same formula as its standalone query, so the card can never
    * drift from the operators it summarizes. Three keeper frames (each
    * one hash-agg) semi-joined back and reduced to one row each. */
  private def dedupCompare(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("doc_id"), col("n_chars"), col("text"))
    def stage(name: String, keepers: DataFrame): DataFrame =
      dd.join(keepers, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
        .select(lit(name).as("strategy"), col("n_kept"), col("chars_kept"))
    val exact = dd.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val prefix = dd.select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 8), " ").as("prefix"))
      .groupBy(col("prefix")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val cluster = clusterAssign(s, d).filter(col("is_keeper")).select("doc_id")
    stage("exact", exact)
      .unionByName(stage("prefix", prefix))
      .unionByName(stage("near_cluster", cluster))
      .orderBy("strategy")
  }

  /** Entity-resolution-style fuzzy dedup: a two-token blocking key plus
    * the EXACT length bound |len(a)−len(b)| ≤ 30 (edit distance ≥ length
    * difference, so the bound drops nothing against the dist ≤ 30
    * threshold), then codegen'd `levenshtein` verifies — the classic
    * record-linkage shape. Block-key width is the quadratic-cost control:
    * ONE token over this small-vocabulary corpus leaves ~200-doc blocks
    * (~840k candidate DP verifies at sf0.1, measured 45 s); two tokens cut
    * that to ~1.9k candidates while finding 256 of the 257 pairs — the
    * standard blocking trade, mirrored exactly in the oracle. At 100 TB
    * the block key is also the shuffle partitioning unit; a hot block
    * would get the [[ShingleDfCap]] treatment. Both engines implement the
    * same DP distance, so the pair set is exactly oracle-able. */
  private def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val keyed = docs(s, d).select(col("doc_id"), col("text"), col("n_chars"),
      split_part(col("text"), lit(" "), lit(1)).as("tok0"),
      split_part(col("text"), lit(" "), lit(2)).as("tok1"))
    val a = keyed.select(col("doc_id").as("da"), col("text").as("ta"),
      col("n_chars").as("na"), col("tok0"), col("tok1"))
    val b = keyed.select(col("doc_id").as("db"), col("text").as("tb"),
      col("n_chars").as("nb"), col("tok0"), col("tok1"))
    a.join(b, Seq("tok0", "tok1"))
      .filter(col("da") < col("db") &&
        col("nb").between(col("na") - 30, col("na") + 30))
      // thresholded levenshtein: banded DP, O(len·k) instead of O(len²) —
      // pairs beyond the bound return -1 (and are exactly the pairs the
      // dist<=30 filter drops), kept pairs carry the exact distance, so the
      // full-DP oracle sees the identical result set. Measured 2.3→1.0 s warm
      // at sf0.1: the DP matrix, not the join, was the query's cost.
      .withColumn("dist",
        levenshtein(col("ta"), col("tb"), 30).cast(LongType))
      .filter(col("dist") >= 0 && col("dist") <= 30)
      .select(col("da"), col("db"), col("dist"))
      .orderBy("da", "db")
  }

  /** Paragraph-level dedup fraction per document (the CCNet recipe:
    * near-dup WEB docs share boilerplate paragraphs long before whole-doc
    * hashes collide): documents split into non-overlapping 10-token
    * windows, each window fingerprinted with the shared polynomial hash,
    * a window counted duplicated when its hash appears in >1 DISTINCT
    * document. The 100 TB shape is the point: after the map-side split,
    * only (doc_id, hash) PAIRS shuffle — 16 bytes/paragraph, never text —
    * through one hash-count and one re-join keyed on the hash. Output is
    * per-doc paragraph counts plus the duplicated share in exact
    * micro-units. */
  private def dedupParagraph(s: SparkSession, d: String): DataFrame =
    paragraphDupStats(docs(s, d), "doc_id", "text", 10).orderBy("doc_id")

  /** The generic kernel behind `dedup_paragraph` (and the
    * [[graft.api.GraftApi.paragraphDupStats]] facade): windows of
    * `windowTokens` tokens per `idCol` document, duplication measured
    * across DISTINCT documents. */
  private[graft] def paragraphDupStats(df: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    val wt = windowTokens
    val paras = df
      .select(col(idCol), TextUtil.tokens(col(textCol)).as("__tk"))
      .withColumn("__np", expr(s"(size(__tk) + ${wt - 1}) DIV $wt"))
      .select(col(idCol), col("__tk"),
        explode(sequence(lit(0L), col("__np") - 1)).as("__p"))
      // the codegen'd PolyHash: the interpreted HOF fold costs ~12 s on
      // 250k paragraphs at sf0.1; the generated byte loop is ~50x faster
      // with identical Long results
      .select(col(idCol), graft.plans.CustomExprs.poly_hash(
          concat_ws("_", slice(col("__tk"),
            (col("__p") * wt + 1).cast(IntegerType), lit(wt))), 11L)
        .as("__ph"))
    val cnt = paras.groupBy(col("__ph").as("__ch"))
      .agg(countDistinct(col(idCol)).as("__nd"))
    paras.join(cnt, col("__ph") === col("__ch"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__nd") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .select(col(idCol), col("n_paras"), col("n_dup"),
        expr("(1000000 * n_dup) DIV n_paras").as("dup_micro"))
  }

  /** Bloom-filter dedup prefilter: a 2¹⁴-bit / 2-hash Bloom bitmap built
    * from every non-src0 document's content hash, probed by the src0
    * shard — the streaming-ingest pattern where a compact filter decides
    * "possibly seen before?" WITHOUT shipping the corpus (the bitmap is
    * 2 KB regardless of build-side size; false positives go to the exact
    * path, the output pins both verdicts side by side). Everything is
    * exact integer bit math: the shared polynomial hash (engine-portable,
    * unlike murmur3), positions mod 2¹⁴, 32-bit words via bit_or (the
    * agg_bitmap_distinct idiom — a 64-bit word would need a checked
    * 1<<63 in DuckDB). The words frame is CONSTANT 512 rows (broadcast
    * documented in SCALE.md); the exact-verify join is a plain equi-join
    * the planner sizes itself. */
  private def dedupBloomPrefilter(s: SparkSession, d: String): DataFrame = {
    val base = U.tbl(s, d, "documents")
      .withColumn("h", graft.plans.CustomExprs.poly_hash(col("text"), 11L))
      .withColumn("p1", col("h") % 16384)
      .withColumn("p2", (col("h") * 31 + 7) % lit(M) % 16384)
    val words = base.filter(col("source") =!= "src0")
      .select(explode(array(col("p1"), col("p2"))).as("p"))
      .groupBy(expr("p DIV 32").as("w"))
      .agg(expr("bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT))").as("msk"))
    val bt = base.filter(col("source") =!= "src0")
      .select(col("text").as("btext")).distinct()
    base.filter(col("source") === "src0")
      .join(broadcast(words.select(col("w").as("w1"), col("msk").as("m1"))),
        expr("p1 DIV 32") === col("w1"), "left")
      .join(broadcast(words.select(col("w").as("w2"), col("msk").as("m2"))),
        expr("p2 DIV 32") === col("w2"), "left")
      .join(bt, col("text") === col("btext"), "left")
      .select(col("doc_id"), col("p1"), col("p2"),
        (coalesce(expr("(m1 >> CAST(p1 % 32 AS INT)) & 1"), lit(0L)) === 1 &&
          coalesce(expr("(m2 >> CAST(p2 % 32 AS INT)) & 1"), lit(0L)) === 1)
          .as("bloom_hit"),
        col("btext").isNotNull.as("exact_dup"))
      .orderBy("doc_id")
  }

  /** Dedup threshold tuning curve — the sim_ivf_curve discipline applied
    * to near-dup removal: one row per Jaccard threshold with the pair
    * count and the number of documents a larger-id-drops policy would
    * remove. The table a curation run reads before committing to a
    * threshold (too low eats unique text, too high ships duplicates).
    * One pass over the shared scored-pair cache with the thresholds
    * exploded alongside — no new candidate generation, and the
    * threshold compare is the identical double-division tree in both
    * engines, so the whole curve hash-matches. */
  private def thresholdCurve(s: SparkSession, d: String): DataFrame =
    jaccardPairsShared(s, d).select(col("db"), col("jac"))
      .select(col("db"), col("jac"), explode(array(
        Seq(200000L, 400000L, 600000L, 800000L).map(lit): _*))
        .as("threshold_micro"))
      .withColumn("pass",
        col("jac") >= col("threshold_micro").cast(DoubleType) / lit(1000000.0))
      .groupBy(col("threshold_micro"))
      .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_pairs"),
        countDistinct(when(col("pass"), col("db"))).as("n_docs_dropped"))
      .orderBy("threshold_micro")

  /** Duplicated 13-token-span coverage per document — the substring-level
    * dedup signal (the "train-data dedup at span granularity" shape:
    * boilerplate and templated text repeat SPANS across documents that
    * whole-doc or shingle-set similarity underweights): every 13-token
    * window is a span key, a span is `dup` when it occurs >= 2 times
    * corpus-wide, and each document reports its span count, dup-span
    * count, coverage fraction and a majority-coverage flag. Shape: one
    * explode + one groupBy(span) + one equi-join back — all plain
    * shuffles on the span key. The fixture keys are the exact span
    * STRINGS (the jaccardCtes inverted-index discipline — zero collision
    * risk, trivially oracle-able); at 100 TB the key is poly_hash(span)
    * (the codegen'd [[graft.plans.PolyHash]]), which changes bytes
    * shuffled, not the plan. */
  private def substringSpans(s: SparkSession, d: String): DataFrame =
    spanDupOn(U.tbl(s, d, "documents").select(col("doc_id"), col("text")),
      spanTokens = 13)

  /** The span-coverage kernel over any (doc_id, text) frame — shared by
    * the declared query and [[graft.api.GraftApi.spanDupStats]]. */
  private[graft] def spanDupOn(docs: DataFrame, spanTokens: Int): DataFrame = {
    val w = spanTokens
    docs
      .select(col("doc_id"), TextUtil.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= w)
      // one codegen'd window pass ([[graft.plans.SpansW]], r15) — the
      // interpreted transform(sequence → slice → concat_ws) re-sliced
      // the token array per span; same span strings, duplicates kept
      .select(col("doc_id"),
        explode(graft.plans.CustomExprs.spans_w(col("tk"), w, " ")).as("span"))
      // corpus occurrence count as ONE span-keyed shuffle (window over
      // the span partition) — the dedup_cdc_chunks recipe, replacing the
      // earlier groupBy + re-join (two exchanges + a persisted frame)
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy(col("span"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("occ") >= 2L, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast(DoubleType) / col("n_spans").cast(DoubleType))
          .as("dup_frac"),
        (col("n_dup_spans") * 2 >= col("n_spans")).as("flagged"))
      .orderBy("doc_id")
  }

  /** Label purity of the text near-dup clusters — the cross-modal sanity
    * check between the TEXT dedup verdicts and the EMBEDDING labels: a
    * multi-doc cluster whose members carry different labels is either a
    * labeling bug or an over-merge, and this is the table that surfaces
    * both. Per ≥2-doc cluster: size, the modal label (votes DESC, label
    * tiebreak) and the purity in floored micro-units. Rides the shared
    * cluster labeling + one id equijoin against the embeddings table —
    * no new candidate generation. */
  private def clusterPurity(s: SparkSession, d: String): DataFrame = {
    val lab = clusterAssign(s, d).select(col("doc_id"), col("cluster_id"))
    val emb = U.tbl(s, d, "embeddings")
      .select(col("vec_id").as("doc_id"),
        col("label").cast(LongType).as("label"))
    val ct = lab.join(emb, Seq("doc_id"))
      .groupBy(col("cluster_id"), col("label")).agg(count(lit(1)).as("nl"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("nl").desc, col("label"))
    ct.withColumn("size",
        sum(col("nl")).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("size") >= 2L)
      .select(col("cluster_id"), col("size"), col("label").as("top_label"),
        col("nl").as("n_top"),
        expr("(1000000 * nl) DIV size").as("purity_micro"))
      .orderBy("cluster_id")
  }

  /** Content-defined chunking dedup (the FastCDC/storage-dedup rung the
    * shingle family doesn't cover): chunk boundaries fall where a 4-char
    * polynomial rolling hash (base 31, the shared TextUtil base) hits
    * h % 32 == 0 — boundaries depend only on LOCAL content, so an
    * insertion early in a document shifts at most one chunk instead of
    * re-keying every fixed-width block (the property that makes CDC the
    * standard storage dedup split). Per doc: the boundary set (plus the
    * end-of-doc sentinel) tiles the text exactly; chunks then dedup
    * corpus-wide BY TEXT (engine-portable — no engine-native hash in the
    * output), and each doc reports its chunk count and how many of its
    * chars live in chunks occurring elsewhere too. Shape: the boundary
    * fold and chunk extraction are per-row higher-order functions
    * (linear in corpus bytes — the tokenizer's cost class), then exactly
    * TWO data-sized shuffles: the chunk-keyed window for the corpus
    * occurrence count and the doc_id re-aggregation; no join, nothing
    * broadcast. At 100 TB the chunk-text shuffle key would widen to a
    * 16-byte digest of the chunk; the structure is unchanged. */
  private def cdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunkStatsOn(docs(s, d).select(col("doc_id"), col("text")))

  /** The CDC kernel on any (doc_id, text) frame — one definition for the
    * declared query, the [[graft.api.GraftApi.cdcChunkStats]] lift and
    * the StressSpec volume laws. */
  private[graft] def cdcChunkStatsOn(docsDf: DataFrame): DataFrame = {
    // Boundary detection and chunk extraction are ONE codegen'd pass
    // per row — the custom [[graft.plans.CdcChunks]] expression (r15):
    // the r14 HOF form (split('') → ascii → filter(sequence) with four
    // element_at calls per position → array_sort/array_distinct → one
    // substring per chunk) allocated a UTF8String per CHARACTER and ran
    // the boundary lambda interpreted — measured as the bulk of the
    // query's 1.1 s warm at sf0.1. (The r13 first cut was worse still:
    // per-position explode + re-join, O(n²)/doc, 5.6 s.) Identical
    // chunks by construction — same rolling hash, same %32 rule, same
    // end-of-doc sentinel, empty-doc and no-boundary cases preserved.
    // The first shuffle this query does is the one the OPERATOR needs:
    // the corpus-wide chunk-text count.
    val chunks = docsDf
      .select(col("doc_id"),
        explode(graft.plans.CustomExprs.cdc_chunks(col("text"))).as("chunk"))
      .select(col("doc_id"), col("chunk"),
        length(col("chunk")).cast(LongType).as("clen"))
    // corpus-wide occurrence count as ONE chunk-keyed shuffle (a window
    // over the chunk partition), not groupBy + re-join (two exchanges)
    chunks
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("chunk"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("sum_len"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("n_occ") > 1, col("clen")).otherwise(0L))
          .as("dup_chars"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> cdcChunks _,
    "dedup_cluster_purity" -> clusterPurity _,
    "dedup_threshold_curve" -> thresholdCurve _,
    "dedup_substring_spans" -> substringSpans _,
    "dedup_bloom_prefilter" -> dedupBloomPrefilter _,
    "dedup_paragraph" -> dedupParagraph _,
    "dedup_editdistance" -> editDistancePairs _,
    "dedup_exact" -> dedupExact _,
    "dedup_prefix" -> dedupPrefix _,
    "dedup_compare" -> dedupCompare _,
    "dedup_source_rate" -> dedupSourceRate _,
    "dedup_lsh_recall" -> lshRecall _,
    "dedup_jaccard" -> jaccardPairs _,
    "dedup_containment" -> containmentPairs _,
    "dedup_minhash" -> minhashPairs _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_minhash_estimate" -> minhashEstimate _,
    "dedup_edit_verify" -> dedupEditVerify _,
    "dedup_simhash" -> simhashPairs _,
    "dedup_soft_weights" -> softWeights _,
    "dedup_clusters" -> clusterAssign _)

  /** SoftDeDup: instead of dropping near-duplicates, weight every doc by
    * 1/|cluster| (floored to integer micro-units) so a training pipeline
    * keeps all text but stops over-counting repeated content — the
    * soft-dedup reweighting refinement over [[clusterAssign]]'s hard
    * keeper pick. One extra size agg + broadcast-scale join on top of the
    * shared cluster labeling; singletons weigh exactly 1e6. */
  private[llm] def softWeights(s: SparkSession, d: String): DataFrame = {
    val lab = clusterAssign(s, d).select(col("doc_id"), col("cluster_id"))
    val sz = lab.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    lab.join(sz, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("1000000 DIV cluster_size").as("weight_micro"))
      .orderBy("doc_id")
  }

  /** Exact MinHash-LSH oracle (round 5): the permutations are fixed integer
    * arithmetic (sig_k = min over shingle-hashes of (h·(2k+1)+k·12345+7)
    * mod 1e9+7 — `plans.MinHashSigs`), so the banding, the candidate set
    * AND the exact-Jaccard verification are all deterministic and the whole
    * query hash-matches; band keys compare as 4-element list slices, which
    * is equality-equivalent to Spark's concat_ws(":") key. This upgrades
    * dedup_minhash from a rows-only gate to a full oracle — "probabilistic"
    * describes its RECALL vs dedup_jaccard (still spec-gated in LlmSpec),
    * not its output. */
  private val minhashSql = {
    val toks = sqlTokens("text")
    val shingles = sqlShingles3(toks)
    val ph = sqlPolyHash("t", 13L)
    s"WITH sh AS (SELECT doc_id, $shingles AS ss FROM documents), " +
      "sized AS (SELECT doc_id, ss FROM sh WHERE len(ss) > 0), " +
      s"hs AS (SELECT doc_id, ss, list_transform(ss, t -> $ph) AS hl FROM sized), " +
      "sig AS (SELECT doc_id, list_transform(range(0, 16), k -> " +
      "list_min(list_transform(hl, h -> (h*(2*k+1) + k*12345 + 7) % 1000000007))) AS sigs FROM hs), " +
      "bands AS (SELECT doc_id, b, list_slice(sigs, CAST(b*4+1 AS INTEGER), " +
      "CAST(b*4+4 AS INTEGER)) AS bkey FROM sig CROSS JOIN range(0, 4) t(b)), " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
      "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id), " +
      "scored AS (SELECT da, db, CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS common, " +
      "CAST(len(a.ss) AS BIGINT) AS na, CAST(len(b.ss) AS BIGINT) AS nb " +
      "FROM cand JOIN hs a ON cand.da = a.doc_id JOIN hs b ON cand.db = b.doc_id) " +
      "SELECT da, db, common, CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) AS jac " +
      "FROM scored WHERE CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) >= 0.2 " +
      "ORDER BY da, db"
  }

  private val simhashSql = {
    val sh = sqlShingles3(sqlTokens("text"))
    val ph = sqlPolyHash("t", 13L)
    "WITH hs AS (SELECT doc_id, " +
      s"list_transform($sh, t -> $ph) AS hl FROM documents " +
      s"WHERE len($sh) > 0), " +
      "sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b -> " +
      "CASE WHEN CAST(list_sum(list_transform(hl, h -> (((h * 2654435761) >> b) & 1) * 2 - 1)) AS BIGINT) > 0 " +
      "THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash " +
      "FROM hs) " +
      "SELECT a.doc_id AS da, b.doc_id AS db, " +
      "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY da, db"
  }

  val oracleSql: Map[String, String] = Map(
    "dedup_cdc_chunks" ->
      ("WITH p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, " +
        "ord(substr(text, CAST(i - 3 AS INTEGER), 1)) * 29791 + " +
        "ord(substr(text, CAST(i - 2 AS INTEGER), 1)) * 961 + " +
        "ord(substr(text, CAST(i - 1 AS INTEGER), 1)) * 31 + " +
        "ord(substr(text, CAST(i AS INTEGER), 1)) AS h " +
        "FROM documents, unnest(range(4, n_chars + 1)) AS u(i)), " +
        "bb AS (SELECT doc_id, pos FROM p WHERE h % 32 = 0 " +
        "UNION SELECT doc_id, n_chars FROM documents), " +
        "sp AS (SELECT doc_id, pos AS cend, " +
        "coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) + 1 " +
        "AS cstart FROM bb), " +
        "ch AS (SELECT sp.doc_id, " +
        "substr(d.text, CAST(cstart AS INTEGER), " +
        "CAST(cend - cstart + 1 AS INTEGER)) AS chunk, " +
        "cend - cstart + 1 AS clen " +
        "FROM sp JOIN documents d ON sp.doc_id = d.doc_id), " +
        "cc AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_occ " +
        "FROM ch GROUP BY chunk) " +
        "SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
        "CAST(SUM(clen) AS BIGINT) AS sum_len, " +
        "CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dup_chunks, " +
        "CAST(SUM(CASE WHEN n_occ > 1 THEN clen ELSE 0 END) AS BIGINT) " +
        "AS dup_chars " +
        "FROM ch JOIN cc ON ch.chunk = cc.chunk " +
        "GROUP BY ch.doc_id ORDER BY ch.doc_id"),
    "dedup_cluster_purity" ->
      (s"WITH RECURSIVE $jaccardCtes, " +
        "pr AS (SELECT da, db FROM pairs " +
        "WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        "edges AS (SELECT da AS u, db AS v FROM pr " +
        "UNION ALL SELECT db, da FROM pr), " +
        "reach(u, v) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "lab AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach " +
        "GROUP BY u), " +
        "ct AS (SELECT lab.cluster_id, CAST(e.label AS BIGINT) AS label, " +
        "CAST(COUNT(*) AS BIGINT) AS nl FROM lab " +
        "JOIN embeddings e ON lab.doc_id = e.vec_id GROUP BY 1, 2), " +
        "sz AS (SELECT cluster_id, label, nl, " +
        "CAST(SUM(nl) OVER (PARTITION BY cluster_id) AS BIGINT) AS size, " +
        "row_number() OVER (PARTITION BY cluster_id " +
        "ORDER BY nl DESC, label) AS rn FROM ct) " +
        "SELECT cluster_id, size, label AS top_label, nl AS n_top, " +
        "CAST((1000000 * nl) // size AS BIGINT) AS purity_micro " +
        "FROM sz WHERE rn = 1 AND size >= 2 ORDER BY cluster_id"),
    "dedup_threshold_curve" ->
      (s"WITH $jaccardCtes, " +
        "pj AS (SELECT db, CAST(common AS DOUBLE) / " +
        "CAST(na + nb - common AS DOUBLE) AS jac FROM pairs), " +
        "th(threshold_micro) AS (VALUES (CAST(200000 AS BIGINT)), " +
        "(CAST(400000 AS BIGINT)), (CAST(600000 AS BIGINT)), " +
        "(CAST(800000 AS BIGINT))) " +
        "SELECT threshold_micro, " +
        "CAST(SUM(CASE WHEN jac >= CAST(threshold_micro AS DOUBLE) / " +
        "1000000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs, " +
        "CAST(COUNT(DISTINCT CASE WHEN jac >= " +
        "CAST(threshold_micro AS DOUBLE) / 1000000.0 THEN db END) " +
        "AS BIGINT) AS n_docs_dropped " +
        "FROM pj CROSS JOIN th GROUP BY 1 ORDER BY 1"),
    "dedup_substring_spans" ->
      (s"WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS tk " +
        "FROM documents), " +
        "big AS (SELECT doc_id, tk FROM tk WHERE len(tk) >= 13), " +
        "sp AS (SELECT doc_id, unnest(list_transform(" +
        "range(1, CAST(len(tk) - 11 AS BIGINT)), " +
        "i -> array_to_string(list_slice(tk, CAST(i AS INTEGER), " +
        "CAST(i + 12 AS INTEGER)), ' '))) AS span FROM big), " +
        "occ AS (SELECT span, COUNT(*) AS occ FROM sp GROUP BY 1), " +
        "ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, " +
        "CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dup_spans FROM sp JOIN occ USING (span) GROUP BY 1) " +
        "SELECT doc_id, n_spans, n_dup_spans, " +
        "CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_frac, " +
        "n_dup_spans * 2 >= n_spans AS flagged FROM ag ORDER BY doc_id"),
    "dedup_bloom_prefilter" -> {
      val h = sqlPolyHash("text", 11L)
      s"WITH k AS (SELECT doc_id, text, source, $h % 16384 AS p1, " +
        s"(($h * 31 + 7) % $M) % 16384 AS p2 FROM documents), " +
        "words AS (SELECT p // 32 AS w, " +
        "bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS msk " +
        "FROM (SELECT unnest([p1, p2]) AS p FROM k WHERE source <> 'src0') " +
        "GROUP BY 1), " +
        "bt AS (SELECT DISTINCT text AS btext FROM k WHERE source <> 'src0') " +
        "SELECT doc_id, p1, p2, " +
        "(COALESCE((w1.msk >> CAST(p1 % 32 AS INTEGER)) & 1, 0) = 1 AND " +
        "COALESCE((w2.msk >> CAST(p2 % 32 AS INTEGER)) & 1, 0) = 1) " +
        "AS bloom_hit, (btext IS NOT NULL) AS exact_dup " +
        "FROM k LEFT JOIN words w1 ON p1 // 32 = w1.w " +
        "LEFT JOIN words w2 ON p2 // 32 = w2.w " +
        "LEFT JOIN bt ON text = btext " +
        "WHERE source = 'src0' ORDER BY doc_id"
    },
    "dedup_paragraph" -> {
      val ph = sqlPolyHash("pt", 11L)
      s"WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents), " +
        "w AS (SELECT doc_id, tk, (len(tk) + 9) // 10 AS np FROM t), " +
        "px AS (SELECT doc_id, array_to_string(list_slice(tk, " +
        "CAST(pi * 10 + 1 AS INTEGER), CAST(pi * 10 + 10 AS INTEGER)), '_') " +
        "AS pt FROM w, LATERAL unnest(generate_series(0, np - 1)) u(pi)), " +
        s"p AS (SELECT doc_id, $ph AS ph FROM px), " +
        "cnt AS (SELECT ph AS ch, COUNT(DISTINCT doc_id) AS nd " +
        "FROM p GROUP BY 1) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras, " +
        "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "(1000000 * CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)) " +
        "// COUNT(*) AS dup_micro " +
        "FROM p JOIN cnt ON ph = ch GROUP BY doc_id ORDER BY doc_id"
    },
    "dedup_editdistance" ->
      ("WITH keyed AS (SELECT doc_id, text, n_chars, " +
        "split_part(text, ' ', 1) AS tok0, split_part(text, ' ', 2) " +
        "AS tok1 FROM documents), " +
        "cand AS (SELECT a.doc_id AS da, b.doc_id AS db, a.text AS ta, " +
        "b.text AS tb FROM keyed a JOIN keyed b ON a.tok0 = b.tok0 " +
        "AND a.tok1 = b.tok1 AND a.doc_id < b.doc_id " +
        "AND b.n_chars BETWEEN a.n_chars - 30 AND a.n_chars + 30) " +
        "SELECT da, db, CAST(levenshtein(ta, tb) AS BIGINT) AS dist " +
        "FROM cand WHERE levenshtein(ta, tb) <= 30 ORDER BY da, db"),
    "dedup_exact" ->
      ("SELECT sha256(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies " +
        "FROM documents GROUP BY sha256(text) ORDER BY keeper"),
    "dedup_prefix" ->
      ("SELECT array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') " +
        "AS prefix, MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY keeper"),
    "dedup_source_rate" ->
      (s"WITH $jaccardCtes, " +
        "dup AS (SELECT DISTINCT doc_id FROM (" +
        "SELECT da AS doc_id FROM pairs WHERE CAST(common AS DOUBLE) / " +
        "CAST(na + nb - common AS DOUBLE) >= 0.2 UNION ALL " +
        "SELECT db AS doc_id FROM pairs WHERE CAST(common AS DOUBLE) / " +
        "CAST(na + nb - common AS DOUBLE) >= 0.2)) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_dup, " +
        "CAST((1000000 * SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 " +
        "END)) // COUNT(*) AS BIGINT) AS dup_rate_micro " +
        "FROM documents LEFT JOIN dup ON documents.doc_id = dup.doc_id " +
        "GROUP BY source ORDER BY source"),
    "dedup_lsh_recall" -> {
      val ph = sqlPolyHash("t", 13L)
      s"WITH $jaccardCtes, " +
        "truth AS (SELECT da, db FROM pairs WHERE " +
        "CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) " +
        ">= 0.2), " +
        s"hs2 AS (SELECT doc_id, list_transform(ss, t -> $ph) AS hl " +
        "FROM sized WHERE len(ss) > 0), " +
        "sig AS (SELECT doc_id, list_transform(range(0, 16), k -> " +
        "list_min(list_transform(hl, h -> " +
        "(h*(2*k+1) + k*12345 + 7) % 1000000007))) AS sigs FROM hs2), " +
        "bands AS (SELECT doc_id, b, list_slice(sigs, " +
        "CAST(b*4+1 AS INTEGER), CAST(b*4+4 AS INTEGER)) AS bkey " +
        "FROM sig CROSS JOIN range(0, 4) t(b)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db " +
        "FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey " +
        "AND x.doc_id < y.doc_id), " +
        "hit AS (SELECT t.da FROM truth t JOIN cand c " +
        "ON t.da = c.da AND t.db = c.db) " +
        "SELECT n_truth, n_cand, n_hit, " +
        "(1000000 * n_hit) // n_truth AS recall_micro FROM " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth) " +
        "CROSS JOIN " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand) " +
        "CROSS JOIN " +
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n_hit FROM hit)"
    },
    "dedup_jaccard" ->
      (s"WITH $jaccardCtes " +
        "SELECT da, db, common, CAST(common AS DOUBLE) / " +
        "CAST(na + nb - common AS DOUBLE) AS jac FROM pairs " +
        "WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2 " +
        "ORDER BY da, db"),
    "dedup_containment" ->
      (s"WITH $jaccardCtes " +
        "SELECT da, db, common, " +
        "CAST(common AS DOUBLE) / CAST(na AS DOUBLE) AS c_a, " +
        "CAST(common AS DOUBLE) / CAST(nb AS DOUBLE) AS c_b FROM pairs " +
        "WHERE greatest(CAST(common AS DOUBLE) / CAST(na AS DOUBLE), " +
        "CAST(common AS DOUBLE) / CAST(nb AS DOUBLE)) >= 0.8 " +
        "ORDER BY da, db"),
    // Connected components as a recursive transitive closure over the same
    // verified pair set: every doc reaches every member of its component, so
    // MIN(reachable id) is the cluster label — exactly the Spark fixpoint.
    "dedup_soft_weights" ->
      (s"WITH RECURSIVE $jaccardCtes, " +
        "pr AS (SELECT da, db FROM pairs " +
        "WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        "edges AS (SELECT da AS u, db AS v FROM pr " +
        "UNION ALL SELECT db, da FROM pr), " +
        "reach(u, v) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "lab AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach " +
        "GROUP BY u), " +
        "sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size " +
        "FROM lab GROUP BY cluster_id) " +
        "SELECT doc_id, cluster_id, cluster_size, " +
        "1000000 // cluster_size AS weight_micro " +
        "FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id"),
    "dedup_clusters" ->
      (s"WITH RECURSIVE $jaccardCtes, " +
        "pr AS (SELECT da, db FROM pairs " +
        "WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        "edges AS (SELECT da AS u, db AS v FROM pr " +
        "UNION ALL SELECT db, da FROM pr), " +
        "reach(u, v) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u) " +
        "SELECT u AS doc_id, MIN(v) AS cluster_id, (MIN(v) = u) AS is_keeper " +
        "FROM reach GROUP BY u ORDER BY doc_id"),
    "dedup_compare" ->
      (s"WITH RECURSIVE $jaccardCtes, " +
        "pr AS (SELECT da, db FROM pairs " +
        "WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2), " +
        "edges AS (SELECT da AS u, db AS v FROM pr " +
        "UNION ALL SELECT db, da FROM pr), " +
        "reach(u, v) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "ck AS (SELECT u AS doc_id FROM reach GROUP BY u " +
        "HAVING MIN(v) = u), " +
        "ek AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
        "GROUP BY sha256(text)), " +
        "pk AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY " +
        "array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) " +
        "SELECT 'exact' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_kept, " +
        "CAST(SUM(n_chars) AS BIGINT) AS chars_kept " +
        "FROM documents JOIN ek USING (doc_id) " +
        "UNION ALL SELECT 'near_cluster', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(n_chars) AS BIGINT) FROM documents JOIN ck USING (doc_id) " +
        "UNION ALL SELECT 'prefix', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(n_chars) AS BIGINT) FROM documents JOIN pk USING (doc_id) " +
        "ORDER BY strategy"),
    "dedup_simhash" -> simhashSql,
    "dedup_minhash" -> minhashSql,
    // the minhashSql chain up to `cand`, then signature agreement vs the
    // exact Jaccard per candidate — estimator error in floored micro
    "dedup_edit_verify" -> {
      val toks = sqlTokens("text")
      val shingles = sqlShingles3(toks)
      val ph = sqlPolyHash("t", 13L)
      s"WITH sh AS (SELECT doc_id, $shingles AS ss FROM documents), " +
        "sized AS (SELECT doc_id, ss FROM sh WHERE len(ss) > 0), " +
        s"hs AS (SELECT doc_id, ss, list_transform(ss, t -> $ph) AS hl FROM sized), " +
        "sig AS (SELECT doc_id, list_transform(range(0, 16), k -> " +
        "list_min(list_transform(hl, h -> (h*(2*k+1) + k*12345 + 7) % 1000000007))) AS sigs FROM hs), " +
        "bands AS (SELECT doc_id, b, list_slice(sigs, CAST(b*4+1 AS INTEGER), " +
        "CAST(b*4+4 AS INTEGER)) AS bkey FROM sig CROSS JOIN range(0, 4) t(b)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
        "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id) " +
        "SELECT cand.da, cand.db, " +
        "CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev, " +
        "CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS maxlen, " +
        "CAST((1000000 * (greatest(length(a.text), length(b.text)) - " +
        "levenshtein(a.text, b.text))) // " +
        "greatest(length(a.text), length(b.text)) AS BIGINT) AS editsim_micro " +
        "FROM cand JOIN documents a ON cand.da = a.doc_id " +
        "JOIN documents b ON cand.db = b.doc_id ORDER BY da, db"
    },
    "dedup_minhash_estimate" -> {
      val toks = sqlTokens("text")
      val shingles = sqlShingles3(toks)
      val ph = sqlPolyHash("t", 13L)
      s"WITH sh AS (SELECT doc_id, $shingles AS ss FROM documents), " +
        "sized AS (SELECT doc_id, ss FROM sh WHERE len(ss) > 0), " +
        s"hs AS (SELECT doc_id, ss, list_transform(ss, t -> $ph) AS hl FROM sized), " +
        "sig AS (SELECT doc_id, list_transform(range(0, 16), k -> " +
        "list_min(list_transform(hl, h -> (h*(2*k+1) + k*12345 + 7) % 1000000007))) AS sigs FROM hs), " +
        "bands AS (SELECT doc_id, b, list_slice(sigs, CAST(b*4+1 AS INTEGER), " +
        "CAST(b*4+4 AS INTEGER)) AS bkey FROM sig CROSS JOIN range(0, 4) t(b)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
        "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id), " +
        "sc AS (SELECT cand.da, cand.db, " +
        "CAST(list_sum(list_transform(range(1, 17), i -> " +
        "CASE WHEN a.sigs[CAST(i AS INTEGER)] = b.sigs[CAST(i AS INTEGER)] " +
        "THEN 1 ELSE 0 END)) AS BIGINT) AS n_agree, " +
        "CAST(len(list_intersect(ha.ss, hb.ss)) AS BIGINT) AS common, " +
        "CAST(len(ha.ss) AS BIGINT) AS na, CAST(len(hb.ss) AS BIGINT) AS nb " +
        "FROM cand JOIN sig a ON cand.da = a.doc_id " +
        "JOIN sig b ON cand.db = b.doc_id " +
        "JOIN hs ha ON cand.da = ha.doc_id " +
        "JOIN hs hb ON cand.db = hb.doc_id) " +
        "SELECT da, db, n_agree, " +
        "CAST((1000000 * n_agree) // 16 AS BIGINT) AS est_micro, " +
        "CAST((1000000 * common) // (na + nb - common) AS BIGINT) AS jac_micro, " +
        "CAST(abs((1000000 * n_agree) // 16 - " +
        "(1000000 * common) // (na + nb - common)) AS BIGINT) AS abs_err_micro " +
        "FROM sc ORDER BY da, db"
    },
    // the minhashSql chain with the snapshot split: candidates pair
    // tonight's batch (da % 10 = 7) against the indexed history only
    "dedup_incremental" -> {
      val toks = sqlTokens("text")
      val shingles = sqlShingles3(toks)
      val ph = sqlPolyHash("t", 13L)
      s"WITH sh AS (SELECT doc_id, $shingles AS ss FROM documents), " +
        "sized AS (SELECT doc_id, ss FROM sh WHERE len(ss) > 0), " +
        s"hs AS (SELECT doc_id, ss, list_transform(ss, t -> $ph) AS hl FROM sized), " +
        "sig AS (SELECT doc_id, list_transform(range(0, 16), k -> " +
        "list_min(list_transform(hl, h -> (h*(2*k+1) + k*12345 + 7) % 1000000007))) AS sigs FROM hs), " +
        "bands AS (SELECT doc_id, b, list_slice(sigs, CAST(b*4+1 AS INTEGER), " +
        "CAST(b*4+4 AS INTEGER)) AS bkey FROM sig CROSS JOIN range(0, 4) t(b)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
        "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey " +
        "AND x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7), " +
        "scored AS (SELECT da, db, CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS common, " +
        "CAST(len(a.ss) AS BIGINT) AS na, CAST(len(b.ss) AS BIGINT) AS nb " +
        "FROM cand JOIN hs a ON cand.da = a.doc_id JOIN hs b ON cand.db = b.doc_id) " +
        "SELECT da, db, common, CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) AS jac " +
        "FROM scored WHERE CAST(common AS DOUBLE)/CAST(na + nb - common AS DOUBLE) >= 0.2 " +
        "ORDER BY da, db"
    })

  /** Shared CTE chain producing the exact-Jaccard candidate `pairs` —
    * dedup_jaccard scores them; dedup_clusters closes over them. */
  private[llm] lazy val jaccardCtes: String = {
    val toks = sqlTokens("text")
    s"sh AS (SELECT doc_id, ${sqlShingles3(toks)} AS ss FROM documents), " +
      "sized AS (SELECT doc_id, ss, CAST(len(ss) AS BIGINT) AS n_sh FROM sh), " +
      "inv0 AS (SELECT doc_id, n_sh, unnest(ss) AS sg FROM sized), " +
      "inv AS (SELECT doc_id, n_sh, sg FROM (SELECT doc_id, n_sh, sg, " +
      "COUNT(*) OVER (PARTITION BY sg) AS df FROM inv0) " +
      s"WHERE df <= ${Dedup.ShingleDfCap}), " +
      "pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, a.n_sh AS na, " +
      "b.n_sh AS nb, COUNT(*) AS common FROM inv a JOIN inv b " +
      "ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)"
  }
}
