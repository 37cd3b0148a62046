package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Deduplication operators for LLM-training-data curation (SURVEY.md
  * §2 C1-C5) over `documents`. None of them ever does an n² document
  * cross join: candidates come from an inverted index (C2), LSH bands
  * (C3), or simhash bands (C4) — shuffles scale with data + true-dup
  * volume, not with pairs. That is the property that survives 100 TB.
  */
object Dedup {

  /** Jaccard threshold shared by the n-gram and MinHash paths. */
  val JaccardTau = 0.5

  /** Distinct word-trigram shingles as POSTINGS (doc_id, sh, n_sh) —
    * one row per distinct shingle.
    *
    * SHUFFLE-FREE build (r21): the compiled `shingles` kernel
    * ([[graft.functions.ShingleExprs]]) emits each doc's distinct
    * trigram array in one codegen'd projection, and the explode gives
    * the posting rows directly — no exchange, no sorts, and n_sh is
    * `size(sh)` instead of a count window. Replaces the
    * posexplode + lead-window + distinct + count-window build, which
    * paid a full-corpus shuffle of every word row plus two window
    * sorts (measured 6× slower at sf0.1 and strictly worse at scale —
    * the removed exchange grew with corpus size). The earlier
    * ~15×-slower `transform(...)`+explode shape this build once
    * avoided was the INTERPRETED lambda cost, which the compiled
    * kernel eliminates; posting rows are bit-identical (including
    * first-occurrence order of the distinct set — ScratchShingle
    * pinned multiset and ordered equality before the swap).
    */
  private def shingledPostings(t: Tables): DataFrame = shingledPostingsOn(t.documents)

  private def shingledPostingsOn(documents: DataFrame): DataFrame = {
    graft.functions.ShingleExprs.register(documents.sparkSession)
    documents
      .select(col("doc_id"), expr("shingles(split(text, ' '))").as("sha"))
      // cast: the window build's count() was a LongType and n_sh
      // surfaces in gated schemas (text_contaminate)
      .select(col("doc_id"), explode(col("sha")).as("sh"), size(col("sha")).cast("long").as("n_sh"))
      .select(col("doc_id"), col("sh"), col("n_sh"))
  }

  /** The shared shingle index: postings keyed by the 64-bit shingle
    * hash — (doc_id, n_sh, shingle). This is the single most expensive
    * subtree in the dedup family (corpus scan + posexplode + two
    * windows), and it feeds [[ngramJaccard]]'s self-join AND
    * [[contamination]]'s overlap join. Compositions that use both
    * ([[Curation.curateFull]]) materialize it ONCE and pass it to
    * `*From` variants instead of letting each operator rebuild it.
    *
    * Joining on the 64-bit hash, not the string: narrower shuffle
    * rows, long equi-join. (xxhash64 collisions would merge postings —
    * P ≈ n²/2⁶⁵, and the DuckDB oracle would flag one; none at any
    * test SF.)
    */
  private[operators] def hashedPostings(t: Tables): DataFrame = hashedPostingsOn(t.documents)

  private[graft] def hashedPostingsOn(documents: DataFrame): DataFrame =
    shingledPostingsOn(documents)
      .select(col("doc_id"), col("n_sh"), xxhash64(col("sh")).as("shingle"))

  /** Per-document distinct-shingle arrays (for MinHash signatures and
    * candidate verification) — map-only array build. The transform
    * lambda is fine HERE because the array is never fed to a Generate
    * (signatures consume it in a projection; verification in a join).
    *
    * try_element_at, not element_at: Spark 4 runs ANSI mode by default,
    * where out-of-bounds element_at THROWS — and documents shorter than
    * 3 words walk past the array end. try_element_at returns NULL,
    * which concat_ws skips, matching both the lead-window path in
    * [[shingledPostings]] and DuckDB's out-of-bounds-is-NULL oracle
    * semantics.
    */
  /** THE trigram-shingle rule — one definition shared by [[shingled]]
    * (the C2/C3 in-memory paths) and [[indexRowsOn]] (the C22e
    * persisted index), because a drifting copy would silently make the
    * persisted index's signatures diverge from the in-memory probe
    * they are spec-pinned to equal row for row. Since r21 the
    * definition is the COMPILED kernel
    * [[graft.functions.ShingleExprs.Shingles]] (`shingles(ws)`), whose
    * semantics are pinned element-for-element to the SQL
    * `array_distinct(transform(sequence(1, greatest(size(ws)-2, 1)),
    * i -> concat_ws(' ', try_element_at(ws,i), try_element_at(ws,i+1),
    * try_element_at(ws,i+2))))` it replaces — the interpreted lambda
    * was the dominant per-row cost of every signature/posting pass.
    */
  private def shingleArrayCol: Column = expr("shingles(split(text, ' '))")

  /** THE minhash-signature stage over an `sh` shingle column (crc32 →
    * mod P → 128-hash minima) — same single-definition rule as
    * [[shingleArrayCol]]; shared by [[minhashSignatures]] and
    * [[indexRowsOn]]. The compiled `minhash_sig_str` kernel equals
    * `minhash_sig(transform(sh, v -> crc32(v) % P))` exactly
    * (ScratchShingle pinned sig equality) without the interpreted
    * per-shingle crc lambda or the intermediate array.
    */
  private def withMinhashSig(df: DataFrame): DataFrame = {
    graft.functions.ShingleExprs.register(df.sparkSession)
    df.withColumn("sig", expr("minhash_sig_str(sh)"))
  }

  private def shingled(t: Tables): DataFrame = {
    graft.functions.ShingleExprs.register(t.spark)
    t.documents
      .select(col("doc_id"), shingleArrayCol.as("sh"))
      .withColumn("n_sh", size(col("sh")))
  }

  /** C1: exact dedup — hash-groupBy on md5 of whitespace-normalized
    * text; every doc reports its group keeper (min id) and group size.
    * Map-side partial agg via the two windows over one shuffle.
    */
  /** md5 over whitespace-normalized text — the exact-dedup group key,
    * shared with [[graft.operators.Curation]] (fused curation scan) and
    * [[graft.streaming.KinesisLikePipeline.streamingAdmission]] (the
    * online probe of the same base index) so the normalization rule
    * cannot drift between the batch and streaming halves.
    */
  private[graft] def normTextHashCol: Column =
    md5(regexp_replace(trim(col("text")), "\\s+", " "))

  def exact(t: Tables): DataFrame = {
    val w = Window.partitionBy("text_hash")
    t.documents
      .select(col("doc_id"), normTextHashCol.as("text_hash"))
      .withColumn("keep_doc_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** C2: n-gram Jaccard near-dup pairs via an inverted shingle index:
    * explode shingles → self-join postings on the shingle → pair
    * intersection counts → Jaccard from |A|+|B|-|A∩B|. Cost is
    * sum(posting-list²) per shingle, ∝ true similarity mass — not n².
    * (At extreme scale a frequency cap on hot shingles bounds skew;
    * the exact variant here is the verification oracle for C3, which
    * is the true 100 TB path.)
    */
  def ngramJaccard(t: Tables, tau: Double = JaccardTau): DataFrame =
    ngramJaccardImpl(t, tau, maxPostings = None)

  /** Skew-capped variant for hostile corpora: shingles appearing in
    * more than `cap` documents are dropped from the INDEX (not from
    * n_sh), bounding the worst posting-list join term at cap² while
    * keeping Jaccard denominators exact. Boilerplate/template shingles
    * are exactly the ones that explode at 100 TB and carry no
    * near-dup signal. Pairs can only be LOST vs the exact variant
    * (intersections shrink) — spec-checked subset property; rows-only
    * oracle.
    */
  def ngramJaccardCapped(t: Tables, tau: Double = JaccardTau, cap: Int = 100): DataFrame =
    ngramJaccardImpl(t, tau, maxPostings = Some(cap))

  private def ngramJaccardImpl(t: Tables, tau: Double, maxPostings: Option[Int]): DataFrame =
    ngramJaccardFrom(hashedPostings(t), tau, maxPostings)

  /** Plan-spec probe: the UNSORTED verified-pairs frame. The gate tail
    * materializes the verified pairs before its output sort (r22 — see
    * [[ngramJaccardFrom]]), which truncates the executed plan behind a
    * LogicalRDD; this exposes the live join subtree whose shape
    * (shuffled-hash self-join, one reused posting exchange) PlanSpec
    * pins.
    */
  private[graft] def ngramJaccardPlanFrame(t: Tables, tau: Double = JaccardTau): DataFrame =
    ngramJaccardFrom(hashedPostings(t), tau, None, sortForGate = false)

  /** Document-frequency cap as a semi-join-back, NOT a window: a
    * window partition on the shingle is unsplittable, so one
    * stopword-class shingle would serialize its full posting list
    * through a single reducer's buffer. The groupBy map-side combines
    * to one (shingle, df) row per mapper; `keep` (distinct sub-cap
    * shingles, bounded by vocabulary) is checkpointed so the
    * semi-join's probe side is a plain exchange over materialized
    * blocks — which makes BOTH join children shuffle stages, the shape
    * AQE's skew rule matches. The caller materializes the RESULT
    * (see [[ngramJaccardFrom]]) so this join stays a terminal stage,
    * where a hot-shingle partition is legally skew-splittable.
    * private[graft] so SkewEndToEndSpec can execute exactly this
    * subtree against a hostile corpus and assert the split fires.
    */
  /** Per-shingle document frequency over a posting table — ONE
    * definition shared by the cap enforcement ([[cappedPostings]]),
    * the prefix ordering ([[ngramJaccardPrefix]]), the boilerplate
    * signals ([[dupShingleFrac]]), and the cap-sizing audit
    * ([[dfProfile]]): the quantity the audit measures and the
    * quantity the cap enforces must be the same expression by
    * construction.
    */
  private def shingleDf(posts: DataFrame): DataFrame =
    posts.groupBy("shingle").agg(count(lit(1)).as("df"))

  private[graft] def cappedPostings(posts: DataFrame, cap: Int): DataFrame = {
    val keep = shingleDf(posts)
      .filter(col("df") <= cap)
      .select("shingle")
      .localCheckpoint()
    posts.join(keep.hint("shuffle_hash"), Seq("shingle"), "left_semi")
  }

  /** [[ngramJaccard]] over a caller-provided (possibly materialized)
    * posting table — the shared-scan entry point for compositions.
    * Postings carry the doc's shingle count so NO size-lookup joins
    * are needed after pairing.
    */
  /** `sortForGate = false` skips the deterministic output sort — for
    * COMPOSITION consumers (the component loop) that only feed the
    * pairs onward, where row order is irrelevant. The sort is not just
    * an extra exchange: a range exchange SAMPLES its child to compute
    * partition bounds and then re-executes it to write, so the
    * expensive verification aggregate directly below ran ~twice
    * (r22, profile-verified: two stages reading the same exchange,
    * 8.0 s + 4.3 s task time at sf0.1). Gate frames keep the sort but
    * materialize the verified pairs first, so the sampler reads
    * blocks instead of re-running the aggregate.
    */
  private[operators] def ngramJaccardFrom(
      raw: DataFrame,
      tau: Double = JaccardTau,
      maxPostings: Option[Int] = None,
      sortForGate: Boolean = true
  ): DataFrame = {
    val postings = maxPostings.fold(raw) { cap =>
      // materialized once: the df agg and the semi-join probe are
      // different exchange payloads (partial-agg'd vs raw rows), so
      // ReuseExchange can't share them — without this the shingling
      // subtree would run twice
      val posts = raw.localCheckpoint()
      // the capped postings are materialized TOO, for two scale
      // reasons proven on executed plans (SkewEndToEndSpec): fused
      // into the pair self-join, (a) the semi-join runs once per join
      // LEG (exchange-level reuse can't share a join), and (b) its
      // output partitioning is required by the pair join, so AQE's
      // OptimizeSkewedJoin must NOT split a hot-shingle partition —
      // the one place the hostile-corpus skew still serializes. As a
      // terminal checkpoint stage the semi-join runs once and its hot
      // partitions are legally splittable.
      cappedPostings(posts, cap).localCheckpoint()
    }
    // shuffle-hash self-join: both sides produce IDENTICAL exchanges,
    // so ReuseExchange computes the posting list once. Also the only
    // strategy that exists at 100 TB — a posting table never
    // broadcasts. Skewed hot shingles are AQE's skew-join case.
    postings
      .as("a")
      .join(
        postings.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
      )
      .groupBy(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"),
        col("b.n_sh").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= tau) match {
      case verified if sortForGate => verified.localCheckpoint().orderBy("doc_a", "doc_b")
      case verified                => verified
    }
  }

  /** C2f: prefix-filtered set-similarity join (AllPairs/PPJoin
    * candidate generation) — the third distinct scale path to the SAME
    * exact pair set as [[ngramJaccard]] (inverted index) and
    * [[minhashLsh]] (probabilistic banding). Tokens get a global
    * rarest-first total order (document frequency, ties by hashed
    * shingle); each doc indexes only its first |d| − ⌈τ·|d|⌉ + 1
    * tokens in that order. Pigeonhole on the LOWEST-ranked common
    * token proves any pair with J ≥ τ collides inside both prefixes,
    * so joining prefixes only is lossless — while the index (and the
    * quadratic per-shingle join term) shrinks by the factor hot HEAD
    * tokens are exactly the ones dropped: the prefix keeps the rare
    * tail, where posting lists are short. Candidates are then verified
    * with one exact array-intersection pass per pair.
    *
    * Plan: document frequency is a partial-agg'd groupBy joined back
    * on the shingle key (skew-immune — a window partition on a hot
    * shingle would be unsplittable), the rank window is one doc_id
    * exchange, the prefix self-join produces identical exchanges
    * (ReusedExchange), and verification joins the candidate list
    * (small by construction) back to the per-doc shingle arrays.
    */
  /** τ as the exact rational num/den of its shortest decimal form — the
    * positional-filter bound cross-multiplies in LongType, where a τ with
    * a long decimal form (e.g. 1.0/3 at scale 16, den=10^16) could wrap
    * (1+min)·(den+num) past Long.MaxValue with ANSI off and silently
    * prune true pairs. Shingle counts are < 10^9, so scale ≤ 6 keeps
    * every product under 10^16.
    */
  private def tauRational(tau: Double): (Long, Long) = {
    val tauB = BigDecimal(tau)
    require(tauB.scale <= 6, s"tau=$tau needs decimal scale <= 6 (got ${tauB.scale})")
    val den = BigDecimal(10).pow(tauB.scale).toLongExact
    ((tauB * den).toLongExact, den)
  }

  def ngramJaccardPrefix(t: Tables, tau: Double = JaccardTau): DataFrame = {
    // Postings materialized ONCE (localCheckpoint, the minhashLsh
    // pattern): the df/rank windows AND both verification probes read
    // the same executor-local blocks instead of re-shingling the
    // corpus — the original plan scanned documents SIX times.
    val posts = hashedPostings(t).localCheckpoint()
    // document frequency via partial-agg'd groupBy + join-back, NOT a
    // window on the shingle: a window partition is unsplittable, so a
    // stopword-class shingle would serialize its full posting list
    // through one reducer. The agg map-side combines to one (shingle,
    // df) row per mapper; the join-back is AQE-splittable skew; posts
    // is checkpointed so both sides read executor-local blocks.
    val dfBy = shingleDf(posts)
    val ranked = posts
      .join(dfBy.hint("shuffle_hash"), Seq("shingle"))
      .withColumn(
        "tok_rank",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("shingle")))
      )
    // Materialized ONCE (r22): the self-join's two sides do NOT share
    // the subtree in practice — the planned shape rebuilt the df
    // aggregation, the join-back, and the rank window on EACH side
    // (plan-verified: two identical Window+ShuffledHashJoin subtrees,
    // no ReusedExchange; the two window passes were the operator's two
    // heaviest stages). Checkpointing the prefix table is the PPJoin
    // index build — both join legs read executor-local blocks, and
    // one df-agg + one window run instead of two of each.
    val prefix = ranked
      .filter(col("tok_rank") <= col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1)
      .select("doc_id", "shingle", "n_sh", "tok_rank")
      .localCheckpoint()
    // PPJoin POSITIONAL filter: J ≥ τ forces an overlap of at least
    // ⌈τ/(1+τ)·(|A|+|B|)⌉, and a pair's FIRST common token (in the
    // global rarest-first order) at ranks i in A, j in B caps the
    // achievable overlap at 1 + min(|A|−i, |B|−j) — nothing before i
    // in A is shared (it would order before the first common token).
    // A collision surviving the join must therefore satisfy
    //   1 + min(na−i, nb−j)  ≥  τ/(1+τ)·(na+nb)
    // for SOME common token; the true pair's first-collision always
    // does, so OR-over-collisions (the join + distinct) is lossless.
    // The bound is evaluated in exact integer math: τ as the rational
    // num/den of its shortest decimal form, cross-multiplied — a
    // double ⌈·⌉ can land 1 too high at exact-boundary sums and would
    // prune a pair sitting exactly at τ.
    val (num, den) = tauRational(tau)
    val candidates = prefix
      .as("a")
      .join(
        prefix.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          // AllPairs length filter — J ≥ τ forces min(|A|,|B|) ≥
          // τ·max(|A|,|B|), so mismatched sizes can be dropped inside
          // the join before they ever become candidate rows (lossless)
          col("a.n_sh") >= lit(tau) * col("b.n_sh") &&
          col("b.n_sh") >= lit(tau) * col("a.n_sh") &&
          (lit(1L) + least(
            col("a.n_sh") - col("a.tok_rank"),
            col("b.n_sh") - col("b.tok_rank")
          )) * lit(den + num) >= lit(num) * (col("a.n_sh") + col("b.n_sh"))
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verification COUNTS common postings per candidate pair: explode
    // each pair against its doc_a postings, keep rows whose (doc_b,
    // shingle) also posts, count survivors = |A∩B|. O(|A|) hash
    // probes per pair — the per-pair array_intersect this replaces was
    // O(|A|·|B|) element compares and dominated the whole operator
    // (~10⁹ compares at sf0.1, measured 2× the operator's total).
    candidates
      .join(posts.select(col("doc_id").as("doc_a"), col("shingle"), col("n_sh").as("na")), "doc_a")
      .join(
        posts.select(col("doc_id").as("doc_b"), col("shingle"), col("n_sh").as("nb")),
        Seq("doc_b", "shingle")
      )
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= tau)
      // materialize before the gate sort: the range sampler otherwise
      // re-executes the whole verification subtree (r22 — see
      // ngramJaccardFrom; here the re-run was the single largest cost
      // at the 32× scaling probe)
      .localCheckpoint()
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate-pair counts for the spec: (positional+prefix, prefix
    * only, full index) — the pruning each successive PPJoin filter
    * buys before any verification work.
    */
  private[graft] def prefixCandidateCounts(
      t: Tables,
      tau: Double = JaccardTau
  ): (Long, Long, Long) = {
    val posts = hashedPostings(t)
    def pairs(p: DataFrame, extra: Column = lit(true)): Long = p
      .as("a")
      .join(
        p.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") && extra
      )
      .select(col("a.doc_id"), col("b.doc_id"))
      .distinct()
      .count()
    val ranked = posts
      .join(shingleDf(posts), Seq("shingle"))
      .withColumn(
        "tok_rank",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("shingle")))
      )
    val prefix = ranked
      .filter(col("tok_rank") <= col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1)
      .select("doc_id", "shingle", "n_sh", "tok_rank")
    val (num, den) = tauRational(tau)
    val positional =
      (lit(1L) + least(
        col("a.n_sh") - col("a.tok_rank"),
        col("b.n_sh") - col("b.tok_rank")
      )) * lit(den + num) >= lit(num) * (col("a.n_sh") + col("b.n_sh"))
    (
      pairs(prefix, positional),
      pairs(prefix.select("doc_id", "shingle")),
      pairs(posts.select("doc_id", "shingle"))
    )
  }

  /** C2g: containment near-dup pairs — |A∩B| / min(|A|,|B|) ≥ τ_c.
    * Containment (Broder's "inclusion") catches what resemblance
    * (Jaccard) structurally can't: a short document quoted wholesale
    * inside a long one has near-total containment but tiny Jaccard
    * (the union is dominated by the long side). Every real curation
    * pass runs BOTH thresholds — resemblance for same-length near-dups,
    * containment for quote/subset extraction.
    *
    * Same inverted-index plan as [[ngramJaccard]] (one posting
    * exchange, ReusedExchange self-join, candidates ∝ shared-shingle
    * mass): only the post-aggregation filter differs, so the scale
    * story is inherited unchanged. Emits both scores; keeps pairs
    * passing the containment bar that the Jaccard bar would DROP
    * (jaccard < τ) — the quote-detection delta, disjoint from C2's
    * output by construction.
    */
  def containmentPairs(t: Tables, tauC: Double = 0.8): DataFrame = {
    // the synthetic corpus has same-length mutations but no quote
    // structure (max containment among sub-jaccard pairs: 0.27), so —
    // like contamination's doc_id % 97 benchmark slice — a
    // deterministic quote fixture is derived from the corpus itself:
    // the first quarter of every doc_id % 29 == 0 document becomes an
    // excerpt doc with id -(source + 1) — the negated-id space cannot
    // collide with real (non-negative) doc_ids at ANY corpus size,
    // where an additive offset would alias once the corpus outgrows it
    val ws = split(col("text"), " ")
    val excerpts = t.documents
      .filter(col("doc_id") % 29 === 0)
      .select(
        (-col("doc_id") - 1L).as("doc_id"),
        concat_ws(
          " ",
          slice(ws, lit(1), greatest(floor(size(ws) / 4).cast("int"), lit(3)))
        ).as("text")
      )
    containmentPairsOn(
      t.documents.select(col("doc_id"), col("text")).unionByName(excerpts),
      tauC
    )
  }

  /** [[containmentPairs]] over any (doc_id, text) frame. */
  def containmentPairsOn(documents: DataFrame, tauC: Double = 0.8): DataFrame = {
    val postings = hashedPostingsOn(documents)
    postings
      .as("a")
      .join(
        postings.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
      )
      .groupBy(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"),
        col("b.n_sh").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") / least(col("na"), col("nb"))).as("containment"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard")
      )
      .filter(col("containment") >= tauC && col("jaccard") < JaccardTau)
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-source duplication matrix: which sources copy from which —
    * near-dup pairs rolled up to (source_a, source_b) with pair counts
    * and the strongest similarity seen. The provenance view a curation
    * team reads before deciding which source to drop or down-weight.
    * Cost is the C2 pair pipeline plus two broadcast-size dimension
    * joins (doc_id → source) and a tiny rollup; max() keeps the
    * similarity column exact (an avg of doubles would be
    * summation-order dependent).
    */
  def crossSourceDups(t: Tables, tau: Double = JaccardTau): DataFrame = {
    val src = t.documents.select(col("doc_id"), col("source"))
    ngramJaccard(t, tau)
      .join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "source_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "source_b"), "doc_b")
      .groupBy(
        least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi")
      )
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("src_lo", "src_hi")
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * word-trigram with a held-out evaluation set (here the
    * deterministic slice doc_id % 97 == 0 stands in for the benchmark).
    * Training corpora must be scrubbed of eval-set n-grams or measured
    * capability is contaminated — this is the standard n-gram-overlap
    * check, run as a JOIN, not a per-doc scan of the benchmark.
    *
    * Plan shape for 100 TB: the benchmark's distinct shingle set is
    * tiny relative to the corpus (eval sets are MBs, corpora are TBs),
    * so it is BROADCAST — the corpus postings stream map-side through
    * the hash join with no shuffle of the corpus at all; the only wide
    * exchange is the final per-doc count, keyed by doc_id, whose input
    * is only the matching postings (∝ contamination mass, not corpus
    * size).
    */
  def contamination(t: Tables): DataFrame = contaminationFrom(hashedPostings(t))

  /** [[contamination]] over a caller-provided posting table — lets
    * [[Curation.curateFull]] feed the decontamination branch from the
    * same materialized [[hashedPostings]] the near-dup pipeline uses,
    * instead of rebuilding the shingle index from raw text.
    */
  private[operators] def contaminationFrom(postings: DataFrame): DataFrame = {
    val benchShingles = postings
      .filter(col("doc_id") % 97 === 0)
      .select(col("shingle")).distinct()
    postings
      .filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchShingles), "shingle")
      // postings are distinct per (doc, shingle), so count(*) IS the
      // number of distinct contaminated shingles
      .groupBy("doc_id", "n_sh")
      .agg(count(lit(1)).as("n_hits"))
      .select(
        col("doc_id"),
        col("n_hits"),
        col("n_sh"),
        (col("n_hits").cast("double") / col("n_sh")).as("contam_ratio")
      )
      .orderBy("doc_id")
  }

  /** Per-document duplicated-text fraction: the share of a doc's
    * distinct word-trigrams that appear in at least one OTHER
    * document. This is the per-doc "how much of me is boilerplate"
    * quality signal (the soft sibling of pair-level dedup): a doc can
    * evade every pairwise threshold yet still be 60% template text,
    * and corpus reports rank sources by exactly this number.
    *
    * Plan: the shared inverted index ([[hashedPostings]]) gets its
    * document frequency from a partial-agg'd `groupBy(shingle)` joined
    * back on the same key — NOT a shingle window: a window partition
    * is unsplittable and un-partial-aggregable, so one stopword-class
    * shingle would serialize its entire posting list through a single
    * reducer, while the groupBy map-side combines and the join-back is
    * AQE-splittable skew. Then one partial-agg'd groupBy back on
    * doc_id. All shuffles keyed, no self-join: cost is O(postings),
    * not O(pairs), so the signal is strictly cheaper than any pairwise
    * dedup at 100 TB.
    */
  def dupShingleFrac(t: Tables): DataFrame = {
    // checkpointed: the df agg and the join probe can't share an
    // exchange (partial-agg'd vs raw payloads), so without this the
    // shingling subtree would run twice
    val posts = hashedPostings(t).localCheckpoint()
    val dfBy  = shingleDf(posts)
    posts
      .join(dfBy.hint("shuffle_hash"), Seq("shingle"))
      .groupBy("doc_id", "n_sh")
      .agg(sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_sh"))
      .select(
        col("doc_id"),
        col("n_sh").cast("long").as("n_sh"),
        col("n_dup_sh"),
        (col("n_dup_sh").cast("double") / col("n_sh")).as("dup_frac")
      )
      .orderBy("doc_id")
  }

  /** Temporal novelty score: the fraction of a doc's distinct
    * word-trigrams FIRST introduced by this doc — no lower-id (earlier)
    * doc carries them. Where [[dupShingleFrac]] measures symmetric
    * boilerplate mass, novelty is the crawl-ordering signal: a
    * recrawl/wire-copy batch scores near 0, genuinely new material near
    * 1, and corpus reports plot novelty over ingest order to spot the
    * point where a source went stale.
    *
    * Plan: identical scale shape to [[dupShingleFrac]] — the shared
    * inverted index gets its first-occurrence doc from a partial-agg'd
    * `groupBy(shingle).agg(min(doc_id))` joined back on the same key
    * (min partial-aggregates map-side; a shingle window would funnel a
    * hot shingle's full posting list through one reducer), then one
    * partial-agg'd groupBy back on doc_id. All keyed shuffles,
    * O(postings), no self-join.
    */
  def noveltyFrac(t: Tables): DataFrame = {
    val posts   = hashedPostings(t).localCheckpoint()
    val firstBy = posts.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    posts
      .join(firstBy.hint("shuffle_hash"), Seq("shingle"))
      .groupBy("doc_id", "n_sh")
      .agg(sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .select(
        col("doc_id"),
        col("n_sh").cast("long").as("n_sh"),
        (col("n_sh") - col("n_seen")).cast("long").as("n_novel"),
        ((col("n_sh") - col("n_seen")).cast("double") / col("n_sh")).as("novelty_frac")
      )
      .orderBy("doc_id")
  }

  /** Duplicate-cluster size distribution — the corpus-report rollup of
    * [[nearDupComponents]]: how many near-dup clusters exist at each
    * size, with a deterministic witness component per size. This is
    * the headline number a dedup run reports ("12k pairs collapsed
    * into 3k clusters, largest 40 docs") and the input to downweight
    * policies (drop clusters over size k vs keep one doc each).
    *
    * Plan: the component resolution dominates; the rollup is two tiny
    * partial-agg'd groupBys (output ≤ distinct sizes) — free at any
    * scale.
    */
  def componentSizeStats(t: Tables): DataFrame =
    nearDupComponents(t)
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), min("component").as("min_component"))
      .select(
        col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        col("min_component")
      )
      .orderBy("cluster_size")

  /** Cluster canonicalization: the "which copy do we KEEP" policy on
    * top of [[nearDupComponents]] — each near-dup cluster elects its
    * longest member (ties to the smallest doc_id) as canonical, and
    * every member row carries the verdict. min-id election is what
    * exact dedup does by default; near-dup clusters want the most
    * COMPLETE version (the longer doc usually contains the shorter),
    * which is exactly the policy knob this operator exposes.
    *
    * Plan: component resolution dominates; the election is one
    * row_number window over the component partitioning plus a
    * broadcast-scale join of doc lengths (pruned to two columns).
    */
  def clusterCanonical(t: Tables): DataFrame = {
    val byComp = Window
      .partitionBy("component")
      .orderBy(col("n_chars").desc, col("doc_id"))
    nearDupComponents(t)
      .join(t.documents.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("canonical_doc", first("doc_id").over(byComp))
      .select(
        col("doc_id"),
        col("component"),
        col("n_chars"),
        col("canonical_doc"),
        (col("doc_id") === col("canonical_doc")).as("is_canonical")
      )
      .orderBy("doc_id")
  }

  /** Incremental corpus refresh — dedup a DELTA batch against an
    * existing BASE corpus without ever re-pairing base-vs-base. This
    * is the shape every recurring crawl runs: the corpus is petabytes
    * and already deduped; tonight's batch must be admitted, linked to
    * an existing near-dup group, or dropped as an exact copy. Here the
    * deterministic slice doc_id % 10 == 0 stands in for the delta.
    *
    * Verdicts per delta doc, in precedence order:
    *   'exact' — a base doc has the same normalized text hash;
    *   'near'  — trigram Jaccard ≥ τ against some base doc (best
    *             match = highest jaccard, ties to the smallest base
    *             doc_id, resolved through the bounded-heap TopKPerKey
    *             operator — no per-doc sort);
    *   'new'   — admitted.
    *
    * Scale shape: both probes are delta-vs-base joins keyed on the
    * hash/shingle — the base side streams through ONE exchange each
    * and base-vs-base pairs are never formed, so cost is
    * O(base + delta + true-match mass), not O(pairsᵉˣⁱˢᵗⁱⁿᵍ). The
    * base postings/hash index would be a maintained table in a real
    * deployment (write once, probe nightly) — exactly the bucketed-
    * layout story q_bucketed_join demonstrates.
    */
  def incrementalDedup(t: Tables, tau: Double = JaccardTau): DataFrame =
    incrementalDedupOn(t.documents, tau)

  /** [[incrementalDedup]] over any (doc_id, text) frame — exposed so
    * specs can drive crafted base/delta mixes (the synthetic corpus
    * contains no exact whole-doc duplicate, so the 'exact' verdict arm
    * needs constructed inputs to be exercised at all).
    */
  def incrementalDedupOn(documents: DataFrame, tau: Double = JaccardTau): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    // Each probe builds its side pipeline under its own slice filter.
    // (Writing the slice predicates as join residuals does NOT share
    // the pipeline: Catalyst infers single-side conjuncts and pushes
    // them below the join anyway — measured. The double build is a
    // fixture artifact of simulating base+delta from one table; in
    // deployment the base hash/posting index is a maintained table
    // written once and probed nightly, so the two sides are distinct
    // inputs with nothing to share.)
    val hashes = documents.select(col("doc_id"), normTextHashCol.as("text_hash"))
    val exactMatch = hashes
      .filter(isDelta)
      .join(
        hashes
          .filter(!isDelta)
          .select(col("doc_id").as("base_doc"), col("text_hash"))
          .hint("shuffle_hash"),
        "text_hash"
      )
      .groupBy("doc_id")
      .agg(min("base_doc").as("exact_match"))
    val posts = hashedPostingsOn(documents)
    val nearAll = posts
      .filter(isDelta)
      .as("d")
      .join(
        posts.filter(!isDelta).as("b").hint("shuffle_hash"),
        col("d.shingle") === col("b.shingle")
      )
      .groupBy(
        col("d.doc_id").as("doc_id"),
        col("b.doc_id").as("base_doc"),
        col("d.n_sh").as("nd"),
        col("b.n_sh").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_id"),
        col("base_doc"),
        (col("inter").cast("double") / (col("nd") + col("nb") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= tau)
    incrementalVerdict(documents, exactMatch, nearAll)
  }

  /** Shared verdict assembly for the C22 family: best near match per
    * delta doc (exact-Jaccard-scored, already τ-filtered) + the
    * exact-hash arm folded into the exact/near/new classification.
    */
  private def incrementalVerdict(
      documents: DataFrame,
      exactMatch: DataFrame,
      nearAll: DataFrame
  ): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    incrementalVerdictIds(documents.filter(isDelta).select(col("doc_id")), exactMatch, nearAll)
  }

  /** [[incrementalVerdict]] over an explicit delta-id frame — the
    * persisted-index probe supplies its delta as its own input (the
    * deployment shape: tonight's batch is a separate arrival, not a
    * slice predicate over the corpus), so the verdict assembly must
    * not re-derive the delta from `documents`.
    */
  private def incrementalVerdictIds(
      deltaIds: DataFrame,
      exactMatch: DataFrame,
      nearAll: DataFrame
  ): DataFrame = {
    val nearBest = graft.plans.TopK
      .perKey(nearAll, Seq("doc_id"), Seq(col("jaccard").desc, col("base_doc")), 1)
      .select(col("doc_id"), col("base_doc").as("near_match"), col("jaccard"))
    deltaIds
      .select(col("doc_id"))
      .join(exactMatch, Seq("doc_id"), "left")
      .join(nearBest, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("new")
          .as("dup_kind"),
        coalesce(col("exact_match"), col("near_match")).as("match_doc_id"),
        when(col("exact_match").isNull, col("jaccard")).as("near_jaccard")
      )
      .orderBy("doc_id")
  }

  /** C22d: the C22 incremental probe through the LSH SIGNATURE index —
    * the deployment shape when the base corpus is 100 TB: a nightly
    * delta doesn't re-join the full posting index (C22's plan — cost ∝
    * delta×base shared-shingle mass, which still touches every base
    * posting bucket a delta shingle hits); it probes the base's STORED
    * minhash band index (32 band keys per base doc, written once and
    * maintained incrementally — the C3 signature table as a persistent
    * asset) with the delta's band keys. The probe is an equi-join on
    * (band_idx, band_key) whose cost tracks band-bucket collisions,
    * then exact Jaccard verification on the candidate pairs ONLY and
    * the identical verdict assembly. The C3 discipline: verified
    * output equals the exact probe whp (band-miss prob (1−s⁴)³² —
    * corpus near-dups sit at s ≈ 0.9 where that is ~1e-15), so the
    * key shares C22's exact oracle exactly as C3 shares C2's. The
    * exact-hash arm stays a hash equi-join — there is nothing to
    * approximate about equality at any scale.
    */
  def incrementalDedupLsh(
      t: Tables,
      tau: Double = JaccardTau,
      checkpointDir: Option[String] = None,
      broadcastDelta: Boolean = true
  ): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    val hashes  = t.documents.select(col("doc_id"), normTextHashCol.as("text_hash"))
    // delta side broadcast, base side exchange-free — the same
    // measured shape as persistedProbe (the nightly delta fits a
    // broadcast; the base-sized index never does).
    // broadcastDelta=false is the over-threshold escape hatch here
    // exactly as on persistedProbe — without it the forced hint would
    // bypass the size threshold and an over-sized delta would fail
    // (driver OOM / broadcast limit) with no way to opt out.
    def small(df: DataFrame): DataFrame = if (broadcastDelta) broadcast(df) else df
    def big(df: DataFrame): DataFrame   = if (broadcastDelta) df else df.hint("shuffle_hash")
    val exactMatch = small(hashes.filter(isDelta))
      .join(
        big(hashes
          .filter(!isDelta)
          .select(col("doc_id").as("base_doc"), col("text_hash"))),
        "text_hash"
      )
      .groupBy("doc_id")
      .agg(min("base_doc").as("exact_match"))
    val s     = minhashSignatures(t, checkpointDir)
    val bands = bandKeys(s)
    val candidates = small(bands.filter(isDelta))
      .as("d")
      .join(
        big(bands.filter(!isDelta)).as("b"),
        col("d.band_idx") === col("b.band_idx") && col("d.band_key") === col("b.band_key")
      )
      .select(col("d.doc_id").as("doc_id"), col("b.doc_id").as("base_doc"))
      .distinct()
    val sh = s.select(col("doc_id"), col("sh"), col("n_sh"))
    val nearAll = candidateJaccard(
      candidates,
      sh,
      sh.withColumnRenamed("doc_id", "base_doc_key"),
      tau
    )
    incrementalVerdict(t.documents, exactMatch, nearAll)
  }

  /** Exact-Jaccard verification of (doc_id, base_doc) candidate pairs
    * against the two sides' shingle frames — the shared tail of every
    * incremental probe. The intersection size is bound ONCE
    * (`inter`) before the ratio: codegen subexpression elimination
    * would already dedupe the double `array_intersect`, but the
    * intermediate makes the intent explicit rather than relying on it.
    */
  private def candidateJaccard(
      candidates: DataFrame,
      deltaSh: DataFrame,
      baseSh: DataFrame,
      tau: Double
  ): DataFrame =
    candidates
      .as("c")
      .join(deltaSh.as("sa"), col("c.doc_id") === col("sa.doc_id"))
      .join(baseSh.as("sb"), col("c.base_doc") === col("sb.base_doc_key"))
      .select(
        col("c.doc_id").as("doc_id"),
        col("c.base_doc").as("base_doc"),
        size(array_intersect(col("sa.sh"), col("sb.sh"))).as("inter"),
        col("sa.n_sh").as("n_a"),
        col("sb.n_sh").as("n_b")
      )
      .select(
        col("doc_id"),
        col("base_doc"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= tau)

  // --- C22e: persisted signature index ------------------------------------
  // The C22d band probe with the index as a REAL persisted asset instead
  // of a within-run checkpoint: signatures live in a ContentStore (A18's
  // manifest-committed epochs), the probe reads a PINNED snapshot, and
  // each admitted delta appends its signatures as a new epoch — the
  // index-maintenance loop every nightly refresh runs. The reference's
  // consumers probe persistent Postgres state the same way
  // (lambda-count/lcount.go:206-237) — state is read, not recomputed.

  /** JSON payload schema of one signature-index row (see
    * [[writeSignatureIndex]]). `sh` stores the raw distinct trigram
    * shingles so candidate verification is the EXACT Jaccard the C22
    * oracle computes; a deployment squeezed for index bytes could store
    * the crc32'd shingle keys instead (5-10× narrower, equal whp) at
    * the price of leaving the shared exact oracle.
    */
  private val IndexPayloadDdl =
    "doc_id BIGINT, text_hash STRING, n_sh INT, sig ARRAY<BIGINT>, sh ARRAY<STRING>"

  /** One signature-index row per document: content hash (the exact-dup
    * probe key), distinct shingle set + size (exact verification), and
    * the 128-hash minhash signature (band candidate generation) — the
    * full per-doc state the incremental probe needs, so probing never
    * touches the corpus text. Map-only over the input scan. The kernels
    * register on `docs`' own session, which `expr` resolves against:
    * inside a foreachBatch that is the stream's clone, not `spark`.
    */
  private[graft] def indexRowsOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.MinHashExpr.register(docs.sparkSession)
    graft.functions.ShingleExprs.register(docs.sparkSession)
    withMinhashSig(
      docs
        .select(col("doc_id"), normTextHashCol.as("text_hash"), shingleArrayCol.as("sh"))
        .withColumn("n_sh", size(col("sh")))
    ).select("doc_id", "text_hash", "n_sh", "sig", "sh")
  }

  /** C22e (producer): write `docs`' signature-index rows into the
    * ContentStore at `storeDir` as ONE manifest-committed epoch —
    * content-addressed key `sig/<doc_id>`, JSON payload
    * ([[IndexPayloadDdl]]). Run once over the base corpus (the C3
    * signature pass, the dominant cost, paid exactly once), then per
    * admitted delta via [[appendAdmittedSignatures]].
    */
  def writeSignatureIndex(spark: SparkSession, docs: DataFrame, storeDir: String): Unit =
    indexRowsOn(spark, docs)
      .select(
        concat(lit("sig/"), col("doc_id")).as("result_key"),
        to_json(struct(col("doc_id"), col("text_hash"), col("n_sh"), col("sig"), col("sh")))
          .as("payload")
      )
      .write
      .format("graft.sources.ContentStore")
      .option("path", storeDir)
      .mode("append")
      .save()

  /** The signature index read back from a PINNED manifest snapshot —
    * commits landing after the pin are invisible (the store's
    * time-travel contract), so a probe is reproducible mid-append.
    */
  def readSignatureIndex(spark: SparkSession, storeDir: String, manifests: Seq[String]): DataFrame =
    spark.read
      .format("graft.sources.ContentStore")
      .option("path", storeDir)
      .option("manifests", manifests.mkString(","))
      .load()
      .select(
        from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL(IndexPayloadDdl))
          .as("r")
      )
      .select(col("r.doc_id"), col("r.text_hash"), col("r.n_sh"), col("r.sig"), col("r.sh"))

  /** C22e (maintenance): append the ADMITTED delta docs' signature rows
    * as a new store epoch — after this commit, the next nightly's
    * snapshot sees tonight's admissions as probe targets. 'exact' and
    * 'near' verdicts are NOT indexed (their keeper/match already is —
    * indexing both sides would make every future probe double-report).
    */
  def appendAdmittedSignatures(
      spark: SparkSession,
      delta: DataFrame,
      verdicts: DataFrame,
      storeDir: String
  ): Unit =
    writeSignatureIndex(
      spark,
      delta.join(verdicts.filter(col("dup_kind") === "new").select("doc_id"), "doc_id"),
      storeDir
    )

  /** C22e: the C22d incremental probe against the PERSISTED signature
    * index — the full 100 TB deployment shape: the base corpus's
    * signatures are a maintained store asset written ONCE (plus one
    * small epoch per admitted delta), and tonight's probe reads the
    * pinned index snapshot plus its OWN delta input. The corpus text is
    * never rescanned and the signature pass never re-runs over the
    * base — probe cost is delta map work + band-bucket collisions +
    * exact verification of candidates, identical verdict assembly and
    * the same whp argument as C22d, so the key shares C22's exact
    * oracle.
    *
    * The INDEX read is materialized (localCheckpoint) exactly like
    * [[minhashSignatures]] and for the same reason: it feeds three
    * plan sites (exact-hash arm, band side, verify side), and without
    * materialization Catalyst re-runs the store scan + JSON parse per
    * site — 3× the I/O on the one asset that IS big at 100 TB (a
    * cluster deployment would use a reliable checkpoint dir, same
    * trade as minhashSignatures' checkpointDir contract). The DELTA's
    * signature subtree stays un-checkpointed: a nightly delta is
    * orders of magnitude smaller, and leaving it declarative keeps the
    * probe plan scan-assertable (SignatureIndexSpec pins: the index
    * subtree reads ONLY the store, and the probe plan holds zero file
    * scans and zero store re-reads).
    *
    * Join shapes (r16, measured): the DELTA side of both probe joins
    * broadcasts — the index side then streams with NO exchange, which
    * is the whole deployment asymmetry (the index never fits a
    * broadcast; a nightly delta does). Forcing shuffle_hash instead
    * shuffled the index's exploded band keys every probe — 32 rows per
    * base doc through the wire for a join whose other side is tiny;
    * removing it measured 0.595 → 0.364 s on the candidate subquery at
    * sf0.1 (ScratchColumnarProbe). This also answers VERDICT-r15 item
    * 4 (bucketed columnar index): band keys are DERIVED from the
    * stored `sig` at probe time, so storage bucketing could only
    * pre-partition a 32×-materialized band asset — and with the delta
    * broadcast there is no index-side exchange left to remove. A
    * delta too large for broadcast sets `broadcastDelta = false` and
    * gets the old shuffle-both-sides shape.
    */
  def incrementalDedupPersisted(
      spark: SparkSession,
      delta: DataFrame,
      storeDir: String,
      manifests: Seq[String],
      tau: Double,
      broadcastDelta: Boolean = true
  ): DataFrame =
    persistedProbe(
      delta,
      indexRowsOn(spark, delta),
      readSignatureIndex(spark, storeDir, manifests).localCheckpoint(),
      tau,
      broadcastDelta
    )

  /** The probe body shared by the JSON-payload (C22e) and columnar
    * (C22f) persisted indexes — identical verdict assembly over an
    * already-materialized index frame, so the two keys differ ONLY in
    * the index storage format they read.
    */
  private def persistedProbe(
      delta: DataFrame,
      deltaRows: DataFrame,
      idx: DataFrame,
      tau: Double,
      broadcastDelta: Boolean = true
  ): DataFrame = {
    // broadcast the small (delta) side of both probe joins so the BIG
    // side — the index — streams exchange-free (see the
    // incrementalDedupPersisted scaladoc for the measurement);
    // broadcastDelta=false is the escape hatch for a delta past the
    // broadcast threshold, restoring the shuffle-both-sides shape
    def small(df: DataFrame): DataFrame = if (broadcastDelta) broadcast(df) else df
    def big(df: DataFrame): DataFrame   = if (broadcastDelta) df else df.hint("shuffle_hash")
    val exactMatch = small(deltaRows.select(col("doc_id"), col("text_hash")))
      .join(
        big(idx.select(col("doc_id").as("base_doc"), col("text_hash"))),
        "text_hash"
      )
      .groupBy("doc_id")
      .agg(min("base_doc").as("exact_match"))
    val candidates = small(bandKeys(deltaRows))
      .as("d")
      .join(
        big(bandKeys(idx)).as("b"),
        col("d.band_idx") === col("b.band_idx") && col("d.band_key") === col("b.band_key")
      )
      .select(col("d.doc_id").as("doc_id"), col("b.doc_id").as("base_doc"))
      .distinct()
    val nearAll = candidateJaccard(
      candidates,
      deltaRows.select(col("doc_id"), col("sh"), col("n_sh")),
      idx.select(col("doc_id").as("base_doc_key"), col("sh"), col("n_sh")),
      tau
    )
    incrementalVerdictIds(delta.select(col("doc_id")), exactMatch, nearAll)
  }

  /** Gate entry for C22e: base = the non-delta slice, indexed once per
    * (corpus, JVM) into a scratch ContentStore with the snapshot pinned
    * at write time — repeat gate/bench runs re-probe the SAME pinned
    * epoch (deterministic even after spec-driven appends), paying only
    * the probe, which is the deployment cost model (the index write is
    * the amortized once asset build).
    */
  def incrementalDedupPersisted(t: Tables, tau: Double): DataFrame = {
    val (store, pin) = sharedBaseIndex(t)
    incrementalDedupPersisted(
      t.spark,
      t.documents.filter(col("doc_id") % 10 === 0),
      store,
      pin,
      tau
    )
  }

  private val indexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String])]()

  private def sharedBaseIndex(t: Tables): (String, Seq[String]) = {
    // the cache key is the corpus DIR — an overridden documents frame
    // must not be served (or build) the base corpus's index
    require(t.docsOverride.isEmpty, "sharedBaseIndex requires the on-disk corpus")
    indexDirs.computeIfAbsent(
      t.dir,
      _ => {
        val dir = graft.operators.Ingest.scratchDir("graft-sigindex")
        writeSignatureIndex(t.spark, t.documents.filter(col("doc_id") % 10 =!= 0), dir)
        (dir, graft.sources.ContentStore.snapshotManifests(dir))
      }
    )
  }

  // --- C22f: columnar (parquet-payload) signature index --------------------
  // The C22e asset with the payload format the probe numbers argue for:
  // IndexPayloadBench measured the K-V JSON epoch 2.5× slower to read
  // at 90k rows (1.42 vs 0.57 s) with the gap in the text/base64 DATA
  // FILE format (raw store scan 1.35 s; from_json adds only ~5%) — so
  // the index rides ParquetEpochs: parquet parts behind the SAME
  // manifest protocol (atomic rename commits, pinned snapshots,
  // sidecar-shadowed compaction, vacuum, pin leases all unchanged).
  // The probe is byte-identical to C22e's (persistedProbe) — the two
  // gate keys differ only in index storage, and share C22's oracle.

  /** C22f (producer): write the signature index as ONE columnar epoch;
    * returns the manifest name.
    */
  def writeSignatureIndexColumnar(
      spark: SparkSession,
      docs: DataFrame,
      storeDir: String,
      manifestName: Option[String] = None
  ): String =
    graft.sources.ParquetEpochs.append(indexRowsOn(spark, docs), storeDir, manifestName)

  /** [[writeSignatureIndexColumnar]] over an ALREADY-COMPUTED (and
    * typically materialized) [[indexRowsOn]] frame — for callers that
    * also feed the same rows to [[mergeDeltaComponents]] (the C22k
    * batch loop), so the shingle+minhash pass runs once per batch,
    * not once per consumer. The frame must be the full indexRowsOn
    * shape in its column order (doc_id, text_hash, n_sh, sig, sh) so
    * the stored epoch is byte-identical to the docs-based writer's.
    */
  def writeSignatureIndexColumnarRows(
      indexRows: DataFrame,
      storeDir: String,
      manifestName: Option[String] = None
  ): String =
    graft.sources.ParquetEpochs
      .append(indexRows.select("doc_id", "text_hash", "n_sh", "sig", "sh"), storeDir, manifestName)

  /** The columnar index read back from a PINNED manifest snapshot —
    * same time-travel contract as [[readSignatureIndex]], no JSON
    * parse and no base64 framing in the scan.
    */
  def readSignatureIndexColumnar(
      spark: SparkSession,
      storeDir: String,
      manifests: Seq[String]
  ): DataFrame =
    graft.sources.ParquetEpochs
      .read(spark, storeDir, manifests)
      .select("doc_id", "text_hash", "n_sh", "sig", "sh")

  /** C22f (maintenance): the [[appendAdmittedSignatures]] twin —
    * admitted delta signatures become one new columnar epoch.
    */
  def appendAdmittedSignaturesColumnar(
      spark: SparkSession,
      delta: DataFrame,
      verdicts: DataFrame,
      storeDir: String
  ): String =
    writeSignatureIndexColumnar(
      spark,
      delta.join(verdicts.filter(col("dup_kind") === "new").select("doc_id"), "doc_id"),
      storeDir
    )

  /** C22f: the C22e probe against the COLUMNAR persisted index —
    * identical verdicts (same [[persistedProbe]] body, same whp
    * argument, same shared C22 oracle), cheaper index access.
    *
    * Unlike the JSON probe this one is fully DECLARATIVE — no
    * localCheckpoint. The materialization trade INVERTS with the
    * payload format: the JSON index is an opaque text payload, so its
    * three plan sites would each pay the full scan + parse
    * (checkpointing measured −23% in r14); a parquet index lets each
    * site push its OWN column pruning (exact arm: doc_id+text_hash;
    * band side: doc_id+sig; verify: doc_id+sh+n_sh), and three pruned
    * scans beat one full materialization — MEASURED (IndexPayloadBench
    * probe_declarative_s vs probe_checkpointed_s, medians of 5,
    * whole-probe including the constant delta signature work): 1.02
    * vs 1.16 s at the gate index, 3.76 vs 4.06 s at 20×; the isolated
    * index-access gap is larger (1.3–1.45×). At 100 TB the bigger win
    * is memory: a checkpoint holds the whole index — shingle arrays
    * dominating — resident on executors for the probe's lifetime;
    * pruned scans hold nothing.
    */
  def incrementalDedupColumnar(
      spark: SparkSession,
      delta: DataFrame,
      storeDir: String,
      manifests: Seq[String],
      tau: Double,
      broadcastDelta: Boolean = true
  ): DataFrame =
    persistedProbe(
      delta,
      indexRowsOn(spark, delta),
      readSignatureIndexColumnar(spark, storeDir, manifests),
      tau,
      broadcastDelta
    )

  /** Measurement twin of [[incrementalDedupColumnar]] with the JSON
    * path's localCheckpoint — exists so IndexPayloadBench can keep the
    * materialization trade's number reproducible beside the shipped
    * shape.
    */
  private[graft] def incrementalDedupColumnarCkpt(
      spark: SparkSession,
      delta: DataFrame,
      storeDir: String,
      manifests: Seq[String],
      tau: Double
  ): DataFrame =
    persistedProbe(
      delta,
      indexRowsOn(spark, delta),
      readSignatureIndexColumnar(spark, storeDir, manifests).localCheckpoint(),
      tau
    )

  /** Gate entry for C22f — the [[incrementalDedupPersisted]] cost
    * model (index built once per (corpus, JVM), pinned at write time;
    * repeat runs pay only the probe) over the columnar asset.
    */
  def incrementalDedupColumnar(t: Tables, tau: Double): DataFrame = {
    val (store, pin) = sharedColumnarIndex(t)
    incrementalDedupColumnar(
      t.spark,
      t.documents.filter(col("doc_id") % 10 === 0),
      store,
      pin,
      tau
    )
  }

  private val columnarIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String])]()

  private def sharedColumnarIndex(t: Tables): (String, Seq[String]) = {
    require(t.docsOverride.isEmpty, "sharedColumnarIndex requires the on-disk corpus")
    columnarIndexDirs.computeIfAbsent(
      t.dir,
      _ => {
        val dir = graft.operators.Ingest.scratchDir("graft-sigindex-pq")
        val m   = writeSignatureIndexColumnar(t.spark, t.documents.filter(col("doc_id") % 10 =!= 0), dir)
        (dir, Seq(m))
      }
    )
  }

  // --- C22i: incremental COMPONENT maintenance ----------------------------
  // Closes the last batch-only stage in the nightly-refresh story: the
  // C22e/f loop admits deltas against the persisted signature index, but
  // cluster RESOLUTION (C2c components) re-ran batch over the FULL pair
  // graph — a nightly 100 TB refresh would re-pay the whole min-label
  // iteration for a 0.1% delta. Here the component labels are a SECOND
  // persisted columnar asset beside the index, and a delta admission
  // MERGES its new edges into them. The contraction argument: every
  // stored component is already internally connected, so replacing it
  // by its label preserves connectivity — min-label propagation runs
  // only over the LABEL graph the delta edges touch (nodes ∝ delta edge
  // endpoints, never corpus size), and the maintained labels equal
  // batch C2c over base ∪ delta EXACTLY (labels are min doc ids; min
  // over merged label-graph nodes = min doc id of the merged
  // component). Reference analog: the consumers maintain persistent
  // Postgres state across events instead of recomputing it
  // (lambda-count/lcount.go:206-237).
  //
  // THE MONOTONICITY INVARIANT the storage leans on: a doc's label only
  // ever DECREASES (merges take the min), so (a) the state store is
  // append-only patch epochs and the current label of any doc is simply
  // min(component) over its rows — no sequence column, no latest-wins
  // window; and (b) a raw state row naming an old label X with X in
  // tonight's remap is guaranteed CURRENT (once X merges away, every
  // X-member is patched in the same epoch and X — a doc id that itself
  // moved — can never become a label again), so the member-relabel pass
  // is a map-side broadcast filter over raw rows: no shuffle, no
  // resolution pass, work ∝ touched-component mass.

  /** C22i (producer): persist component labels (doc_id, component) as
    * ONE columnar epoch — run once over the BASE corpus's batch C2c
    * output, then maintained per delta by [[mergeDeltaComponents]].
    * Returns the manifest name to pin.
    *
    * `rangeClusterParts` > 0 range-clusters the epoch on doc_id before
    * the append — the write-side discipline that makes the store's
    * footer-derived `_stats` bounds tight (B65b), so a label LOOKUP
    * ([[componentLabelsInRange]]) plans only the covering files
    * instead of scanning the whole state. 0 (the default) keeps the
    * caller's partitioning — right for a state that is only ever read
    * whole (the C22i maintenance loop itself).
    */
  def writeComponentState(
      labels: DataFrame,
      storeDir: String,
      rangeClusterParts: Int = 0
  ): String = {
    val rows = labels.select(col("doc_id"), col("component"))
    graft.sources.ParquetEpochs.append(
      if (rangeClusterParts > 0)
        rows.repartitionByRange(rangeClusterParts, col("doc_id"))
          .sortWithinPartitions("doc_id")
      else rows,
      storeDir)
  }

  /** The maintained labels read back from a PINNED manifest snapshot:
    * current label = min(component) per doc (see the monotonicity
    * invariant above — patch epochs only append smaller labels).
    */
  def readComponentState(
      spark: SparkSession,
      storeDir: String,
      manifests: Seq[String]
  ): DataFrame =
    graft.sources.ParquetEpochs
      .read(spark, storeDir, manifests)
      .groupBy("doc_id")
      .agg(min("component").as("component"))

  /** C22j: the SERVING read of the maintained state — "which cluster
    * is this doc in" for a doc_id band, the query a dedup pipeline
    * answers per ingest decision. Goes through
    * [[graft.sources.ParquetEpochs.readRange]], so with a
    * range-clustered state ([[writeComponentState]]'s
    * `rangeClusterParts`) the read PLANS only the files whose recorded
    * doc_id range covers the band (B65b skipping as a consumer: point
    * lookups on a 100 TB label asset open O(covering files), not the
    * store) — and since every state row for a doc carries its doc_id,
    * the band keeps ALL of a kept doc's rows, so min(component) per
    * doc is the exact maintained label (the monotonicity invariant);
    * unclustered or legacy stores degrade to the full scan with
    * identical values.
    */
  def componentLabelsInRange(
      spark: SparkSession,
      storeDir: String,
      manifests: Seq[String],
      lo: Long,
      hi: Long
  ): DataFrame =
    graft.sources.ParquetEpochs
      .readRange(spark, storeDir, manifests, "doc_id", lo, hi)
      .groupBy("doc_id")
      .agg(min("component").as("component"))

  /** C22i (maintenance): merge a delta's near-dup edges into the
    * persisted component labels — the incremental replacement for
    * re-running [[nearDupComponents]] over the full corpus. Appends one
    * patch epoch (new-node labels + relabeled members of merged
    * components) and returns its manifest name; read the maintained
    * state back with the prior pin plus that name.
    *
    * Inputs: `delta` must be NEW docs (ids disjoint from every doc
    * already in the state — the C22 admission contract), `sigManifests`
    * pins the [[writeSignatureIndexColumnar]] asset holding the CURRENT
    * indexed corpus (base plus every previously merged delta — append
    * each delta's signatures after its merge, or later deltas cannot
    * see its edges), `stateManifests` pins the label state the same
    * way.
    *
    * Plan shape (the probe asymmetry throughout): delta↔base edges come
    * from a posting join on the raw shingle string — broadcast(delta
    * postings) against the exploded index, index side exchange-free —
    * with [[ngramJaccardFrom]]'s exact arithmetic verbatim, so the edge
    * set equals batch C2c's (the raw-string join is strictly exact
    * where batch joins xxhash64 keys). The min-label loop
    * ([[componentsFromPairs]], shared) runs over the contracted label
    * graph only. The two state passes are map-side: a broadcast
    * semi-join prunes raw rows to touched endpoints before the tiny
    * label resolve, and the member relabel is a broadcast hash join
    * against the (old label → new label) remap with NO resolution pass
    * (the monotonicity invariant). `broadcastDelta = false` is the same
    * over-threshold escape hatch as the probes'.
    *
    * EMPTY pins bootstrap: `sigManifests` empty means no corpus is
    * indexed yet (delta↔base edges are vacuously none — the store may
    * be virgin, so it is never opened), and `stateManifests` empty
    * means no labels exist yet (prior state is the typed empty frame).
    * Merging the FIRST batch into empty state is therefore batch C2c
    * over that batch — the maintenance is self-bootstrapping, which is
    * what lets the STREAMING form (C22k) start from two virgin stores.
    * `manifestName` makes the patch append idempotent for epoch-keyed
    * writers (the C22h discipline).
    */
  /** The merge's delta↔base edge derivation — exposed so the plan spec
    * can pin the PROBE ASYMMETRY on the frame itself (broadcast delta
    * postings, index side exchange-free: no ShuffledHashJoin, no
    * SortMergeJoin — the r16-measured shape the scale story rides on).
    * Empty `sigManifests` short-circuits to a typed empty frame — the
    * virgin store is never opened (the C22k bootstrap).
    */
  private[graft] def deltaBaseEdges(
      spark: SparkSession,
      deltaPosts: DataFrame,
      sigStoreDir: String,
      sigManifests: Seq[String],
      tau: Double,
      broadcastDelta: Boolean
  ): DataFrame =
    if (sigManifests.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
    else {
      def small(df: DataFrame): DataFrame = if (broadcastDelta) broadcast(df) else df
      def big(df: DataFrame): DataFrame   = if (broadcastDelta) df else df.hint("shuffle_hash")
      val basePosts = readSignatureIndexColumnar(spark, sigStoreDir, sigManifests)
        .select(col("doc_id").as("base_doc"), col("n_sh").as("base_n"), explode(col("sh")).as("s"))
      small(deltaPosts)
        .join(big(basePosts), "s")
        .groupBy(col("doc_id"), col("base_doc"), col("n_sh"), col("base_n"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter").cast("double") / (col("n_sh") + col("base_n") - col("inter")) >= tau)
        .select(col("doc_id").as("u"), col("base_doc").as("v"))
    }

  /** `precomputedIndexRows`: a caller-materialized [[indexRowsOn]]
    * frame over the SAME delta (any superset of columns doc_id, n_sh,
    * sh). The C22k maintenance batch both merges a delta's edges AND
    * appends its signatures — without sharing, the shingle+minhash
    * map pass (the dominant per-batch compute at scale) runs twice
    * per batch. The merge does not free a caller-provided frame.
    */
  def mergeDeltaComponents(
      spark: SparkSession,
      delta: DataFrame,
      sigStoreDir: String,
      sigManifests: Seq[String],
      stateStoreDir: String,
      stateManifests: Seq[String],
      tau: Double,
      broadcastDelta: Boolean = true,
      manifestName: Option[String] = None,
      precomputedIndexRows: Option[DataFrame] = None
  ): String = {
    def small(df: DataFrame): DataFrame       = if (broadcastDelta) broadcast(df) else df
    def big(df: DataFrame): DataFrame         = if (broadcastDelta) df else df.hint("shuffle_hash")
    def materialize(df: DataFrame): DataFrame = df.localCheckpoint()
    // delta shingles through the ONE shingle definition (indexRowsOn),
    // so this merge sees exactly the edges the index probe sees
    val deltaRows = precomputedIndexRows
      .map(_.select("doc_id", "n_sh", "sh"))
      .getOrElse(materialize(indexRowsOn(spark, delta).select("doc_id", "n_sh", "sh")))
    val deltaPosts = deltaRows.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
    val db = deltaBaseEdges(spark, deltaPosts, sigStoreDir, sigManifests, tau, broadcastDelta)
    // delta↔delta edges — the delta is small; AQE picks the join
    val dd = deltaPosts
      .as("a")
      .join(deltaPosts.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("u"),
        col("b.doc_id").as("v"),
        col("a.n_sh").as("na"),
        col("b.n_sh").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") / (col("na") + col("nb") - col("inter")) >= tau)
      .select(col("u"), col("v"))
    val edges = materialize(db.unionAll(dd))
    // current labels of touched BASE endpoints: broadcast semi-prune of
    // the raw state (map-side) before the tiny min-resolve; any
    // unlabeled endpoint (every delta doc, a base doc that was a
    // singleton) IS its own label
    val rawState =
      if (stateManifests.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType))))
      else graft.sources.ParquetEpochs.read(spark, stateStoreDir, stateManifests)
    val touched  = edges.select(col("v").as("doc_id")).distinct()
    val vLabels = rawState
      .join(broadcast(touched), Seq("doc_id"), "leftsemi")
      .groupBy("doc_id")
      .agg(min("component").as("lv"))
      .select(col("doc_id").as("v"), col("lv"))
    // LAZY: the contracted resolution collects these rows driver-side
    // in the common case, so a localCheckpoint job + count job here
    // bought nothing (r22 — contractedComponents now probes and
    // fetches in one bounded take; only its rare distributed fallback
    // materializes the pair plan)
    val labelPairs = edges
      .join(broadcast(vLabels), Seq("v"), "left")
      .select(col("u").as("doc_a"), coalesce(col("lv"), col("v")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    // min-label components over the contracted graph — driver-side in
    // the common (delta-sized) case, distributed fallback otherwise
    val remap = contractedComponents(labelPairs, materialize, preMaterialized = false)
    // patch rows: (1) nodes whose label was themselves (delta docs +
    // newly-paired base singletons) take their merged label; (2)
    // members of every label that MOVED take the new one — raw-row
    // filter, exact by monotonicity
    val endpoints = edges
      .select(col("u").as("doc_id"))
      .unionAll(edges.select(col("v").as("doc_id")))
      .distinct()
    val newRows = endpoints
      .join(vLabels.select(col("v").as("doc_id")), Seq("doc_id"), "left_anti")
      .join(remap, Seq("doc_id"))
      .select(col("doc_id"), col("component"))
    val changed = remap.filter(col("component") =!= col("doc_id"))
    val relabeled = rawState
      .join(
        broadcast(changed.select(col("doc_id").as("component"), col("component").as("newc"))),
        Seq("component")
      )
      .select(col("doc_id"), col("newc").as("component"))
    val name =
      graft.sources.ParquetEpochs.append(newRows.unionAll(relabeled), stateStoreDir, manifestName)
    if (precomputedIndexRows.isEmpty) freeMaterialized(deltaRows)
    freeMaterialized(edges)
    name
  }

  /** Gate entry for C22i — base labels built once per (corpus, JVM) by
    * batch C2c over the base slice and persisted beside the C22f
    * signature index; each run merges the delta slice's edges as a
    * fresh patch epoch and reads back (base pin + its OWN patch), so
    * repeat runs are deterministic even though each appends. Must equal
    * batch C2c over the full corpus — the dedup_components oracle,
    * shared verbatim.
    */
  def incrementalComponents(t: Tables, tau: Double): DataFrame = {
    val ((sigStore, sigPin), (stateStore, statePin)) = sharedComponentFixtures(t)
    val patch = mergeDeltaComponents(
      t.spark,
      t.documents.filter(col("doc_id") % 10 === 0),
      sigStore,
      sigPin,
      stateStore,
      statePin,
      tau
    )
    readComponentState(t.spark, stateStore, statePin :+ patch).orderBy("doc_id")
  }

  /** Gate entry for C22j — maintain the state exactly as C22i does
    * (shared base, fresh patch), then answer the serving question for
    * a doc_id band through the skipping read. Values must equal batch
    * C2c over the full corpus restricted to the band (labels can live
    * OUTSIDE the band — the oracle computes components globally, then
    * filters), which is why this shares dedup_components' recursive
    * CTE with only a WHERE added.
    */
  def componentLookup(t: Tables, tau: Double, lo: Long, hi: Long): DataFrame = {
    val ((sigStore, sigPin), (stateStore, statePin)) = sharedComponentFixtures(t)
    val patch = mergeDeltaComponents(
      t.spark,
      t.documents.filter(col("doc_id") % 10 === 0),
      sigStore,
      sigPin,
      stateStore,
      statePin,
      tau
    )
    componentLabelsInRange(t.spark, stateStore, statePin :+ patch, lo, hi)
      .orderBy("doc_id")
  }

  /** The two per-JVM assets the component maintenance keys share —
    * the columnar signature index and the component-label state. They
    * are INDEPENDENT builds over the same base slice, so the first
    * caller builds them concurrently (guide §2.6) instead of paying
    * Σ(build); later callers hit both caches.
    *
    * r22: the two cold builds previously each SCANNED AND SHINGLED the
    * base corpus themselves (indexRowsOn for the signature epoch,
    * hashedPostingsOn for the component pairs) — two full corpus map
    * passes over the same slice. The miss path now materializes ONE
    * indexRowsOn pass and derives both: the signature epoch appends
    * the rows as-is, and the posting table is an explode + xxhash64
    * over the same arrays (hashedPostingsOn emits exactly that shape,
    * modulo n_sh's long cast, applied here). At 100 TB the fixture
    * cost drops from two corpus scans to one.
    */
  private def sharedComponentFixtures(
      t: Tables): ((String, Seq[String]), (String, Seq[String])) = {
    // warm-cache fast path: both fixtures already built — no pool, no
    // futures, just the two map reads (every call after the first).
    // Same override guard the builders enforce: a cached base-corpus
    // fixture must never be served for an overridden documents frame.
    require(t.docsOverride.isEmpty, "sharedComponentFixtures requires the on-disk corpus")
    val c1 = columnarIndexDirs.get(t.dir)
    val c2 = componentStateDirs.get(t.dir)
    if (c1 != null && c2 != null) return (c1, c2)
    val base = t.documents.filter(col("doc_id") % 10 =!= 0)
    val rows = indexRowsOn(t.spark, base).localCheckpoint()
    try {
      implicit val ec: scala.concurrent.ExecutionContext = Overlap.ec
      val f1 = scala.concurrent.Future(columnarIndexDirs.computeIfAbsent(
        t.dir,
        _ => {
          val dir = graft.operators.Ingest.scratchDir("graft-sigindex-pq")
          (dir, Seq(writeSignatureIndexColumnarRows(rows, dir)))
        }
      ))
      val f2 = scala.concurrent.Future(componentStateDirs.computeIfAbsent(
        t.dir,
        _ => {
          val dir = graft.operators.Ingest.scratchDir("graft-compstate")
          val posts = rows
            .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"), explode(col("sh")).as("s"))
            .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("shingle"))
          (dir, Seq(writeComponentState(nearDupComponents(t, JaccardTau, None, Some(posts)), dir)))
        }
      ))
      (
        scala.concurrent.Await.result(f1, scala.concurrent.duration.Duration.Inf),
        scala.concurrent.Await.result(f2, scala.concurrent.duration.Duration.Inf)
      )
    } finally freeMaterialized(rows)
  }

  private val componentStateDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String])]()

  private def sharedComponentState(t: Tables): (String, Seq[String]) = {
    require(t.docsOverride.isEmpty, "sharedComponentState requires the on-disk corpus")
    componentStateDirs.computeIfAbsent(
      t.dir,
      _ => {
        val dir  = graft.operators.Ingest.scratchDir("graft-compstate")
        val base = t.documents.filter(col("doc_id") % 10 =!= 0)
        val m = writeComponentState(
          nearDupComponents(t, JaccardTau, None, Some(hashedPostingsOn(base))),
          dir
        )
        (dir, Seq(m))
      }
    )
  }

  // --- MinHash-LSH (C3) ---------------------------------------------------
  // 128 permutation hashes h_i(x) = (a_i·x + b_i) mod P over crc32 shingle
  // keys, banded 32×4. Candidate-miss probability for a pair at Jaccard s
  // is (1-s⁴)³²  (≈1e-15 at s=0.9), so verified output equals the exact C2
  // result with overwhelming probability — which is why C3 shares C2's SQL
  // oracle.
  val MinHashP       = 2147483647L // 2^31 - 1 (Mersenne prime)
  val NumHashes      = 128
  val Bands          = 32
  val RowsPerBand    = 4

  /** C3: MinHash-LSH near-dup pairs, verified by exact Jaccard.
    * Pipeline: signature (map-only, fused codegen kernel — see
    * functions/MinHashExpr) → band keys (map-only) → shuffle on band
    * key → candidate pairs (distinct) → verify with exact intersection
    * on the candidate set only. The verify join touches O(candidates)
    * docs, not O(n²).
    *
    * `checkpointDir`: same contract as [[nearDupComponents]] — `None`
    * materializes signatures with `localCheckpoint` (executor-local
    * blocks: fast, right for single-node/testing, but not
    * fault-tolerant); on a real cluster pass a reliable location and
    * the signature table becomes a replayable `checkpoint()`.
    */
  /** The materialized minhash signature table (doc_id, sh, n_sh, sig)
    * — shared by [[minhashLsh]] and [[incrementalDedupLsh]]. The
    * signature map pass (shingle → crc32 → minhash_sig) is the
    * dominant cost at scale and feeds several plan sites (band-join
    * sides + verify-join sides), so it materializes exactly once —
    * without the checkpoint, Catalyst re-evaluates the whole pipeline
    * per site (~3-4× the map work; measured in round 1's bench audit).
    */
  private def minhashSignatures(t: Tables, checkpointDir: Option[String]): DataFrame = {
    graft.functions.MinHashExpr.register(t.spark)
    checkpointDir.foreach(t.spark.sparkContext.setCheckpointDir)
    val sigs = withMinhashSig(shingled(t))
      .select(col("doc_id"), col("sh"), col("n_sh"), col("sig"))
    if (checkpointDir.isDefined) sigs.checkpoint() else sigs.localCheckpoint()
  }

  /** Banded keys (doc_id, band_idx, band_key) of a signature table,
    * 32 bands × 4 rows — the compiled `band_keys` kernel (r21)
    * replaces the interpreted per-band slice+concat transform; key
    * strings are identical (Long.toString joined by ',', the same
    * cast concat_ws applied).
    */
  private[graft] def bandKeys(s: DataFrame): DataFrame = {
    graft.functions.ShingleExprs.register(s.sparkSession)
    s.select(
      col("doc_id"),
      posexplode(expr("band_keys(sig)")).as(Seq("band_idx", "band_key"))
    )
  }

  def minhashLsh(
      t: Tables,
      tau: Double = JaccardTau,
      checkpointDir: Option[String] = None
  ): DataFrame =
    minhashVerified(t, tau, checkpointDir)
      // materialize before the gate sort — the range sampler otherwise
      // re-executes the candidate verification (r22, ngramJaccardFrom)
      .localCheckpoint()
      .orderBy("doc_a", "doc_b")

  /** The pre-sort verified-pairs frame of [[minhashLsh]] — split out so
    * PlanSpec can pin the live band-join shape (the gate tail's r22
    * materialization truncates the executed plan).
    */
  private[graft] def minhashVerified(
      t: Tables,
      tau: Double = JaccardTau,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    val s     = minhashSignatures(t, checkpointDir)
    val bands = bandKeys(s)
    // shuffle-hash, like the C2 posting join: both sides canonicalize
    // to the same exchange (ReusedExchange, asserted in PlanSpec), and
    // a band table never broadcasts at 100 TB anyway
    val candidates = bands
      .as("a")
      .join(
        bands.as("b").hint("shuffle_hash"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sh = s.select(col("doc_id"), col("sh"), col("n_sh"))
    candidateJaccard(
      candidates.select(col("doc_a").as("doc_id"), col("doc_b").as("base_doc")),
      sh,
      sh.withColumnRenamed("doc_id", "base_doc_key"),
      tau
    )
      .select(col("doc_id").as("doc_a"), col("base_doc").as("doc_b"), col("jaccard"))
  }

  /** C2d: winnowing near-dup pairs — the byte-level complement to the
    * word-shingle families: candidates share a winnowed rolling-hash
    * fingerprint (guaranteed for any common run ≥ W+K-1 bytes), scored
    * by fingerprint-set overlap. Same inverted-index + shuffle-hash
    * self-join shape as C2, but robust to whitespace/tokenization
    * differences that word shingles miss. rows-only; spec checks
    * consistency with the word-level families.
    */
  def winnowPairs(t: Tables, tau: Double = 0.5, cap: Int = 100): DataFrame = {
    graft.functions.WinnowExpr.register(t.spark)
    val fps = t.documents
      .select(col("doc_id"), expr("winnow_fp(text)").as("fp"))
      .withColumn("n_fp", size(col("fp")))
    // Document-frequency cap: byte grams of corpus-common vocabulary
    // land in thousands of documents, carry no duplication signal, and
    // square the posting join — winnowing's minima selection even
    // CONCENTRATES on globally-small hashes, so the cap is
    // non-optional here. Overlap is then measured over the SURVIVING
    // (discriminative) fingerprints on both sides: n_fp is recounted
    // post-cap, else common-hash denominators drown every score.
    val freq  = Window.partitionBy("h")
    val byDoc = Window.partitionBy("doc_id")
    val postings = fps
      .select(col("doc_id"), posexplode(col("fp")).as(Seq("pos", "h")))
      .select(col("doc_id"), col("h"))
      .withColumn("df", count(lit(1)).over(freq))
      .filter(col("df") <= cap)
      .drop("df")
      .withColumn("n_fp", count(lit(1)).over(byDoc))
    postings
      .as("a")
      .join(
        postings.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
      )
      .groupBy(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        col("a.n_fp").as("na"),
        col("b.n_fp").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("overlap")
      )
      .filter(col("overlap") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  /** C3b: corpus-slice similarity — estimated Jaccard between the
    * shingle sets of every pair of `source` slices, via per-group
    * unioned MinHash signatures (functions/MinHashAgg). One shuffle to
    * aggregate signatures (map-side combined, fixed 1 KB buffer per
    * group), then an all-pairs compare over #sources rows — dataset
    * overlap without any document-level join. rows-only oracle;
    * spec checks the estimate against exact slice Jaccard.
    */
  def sourceSimilarity(t: Tables): DataFrame = {
    graft.functions.MinHashExpr.register(t.spark)
    graft.functions.MinHashAgg.register(t.spark)
    graft.functions.ShingleExprs.register(t.spark)
    val sigs = t.documents
      // the shared compiled trigram rule (see shingleArrayCol)
      .select(col("source"), shingleArrayCol.as("sh"))
      .select(col("source"), expr("minhash_sig_str(sh)").as("sig"))
      .groupBy("source")
      .agg(expr("minhash_union(sig)").as("sig"))
    sigs
      .as("a")
      .join(sigs.as("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        (expr("size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), p -> p))").cast("double") /
          graft.functions.MinHashExpr.NumHashes).as("jaccard_est")
      )
      .orderBy("source_a", "source_b")
  }

  /** C3b exact twin: slice-level Jaccard computed EXACTLY over the
    * distinct trigram-shingle sets of every source pair — the gated
    * number [[sourceSimilarity]]'s sketch estimates (DedupSpec pins the
    * estimate within the 4σ MinHash error band of THIS output).
    *
    * Shape: one distinct on (source, shingle-hash) — postings collapse
    * from per-document to per-source, so the index is bounded by
    * sources × vocabulary, not corpus size — then the same
    * inverted-index self-join as C2 on the shingle hash
    * (`shuffle_hash`, one ReusedExchange): per-shingle work is ≤
    * sources² (a shingle appears at most once per source), never
    * documents². Zero-intersection pairs are restored by the tiny
    * sizes⨯sizes cross join (sources², driver-free), so the matrix is
    * complete like the sketch's.
    */
  def sourceSimilarityExact(t: Tables): DataFrame = {
    // distinct on the shingle STRING (matching the oracle's set
    // semantics exactly), then hash only for join-key compactness — a
    // distinct over the 64-bit hash would collapse colliding shingles
    // and silently shrink set sizes (~V²/2⁶⁵ at billion-shingle
    // vocabularies). The intersection join below still keys on the
    // hash; a cross-STRING collision there can only add a false
    // intersection within one source pair, the same negligible bound.
    val slice = shingledPostings(t)
      .join(t.documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("sh"))
      .distinct()
      .select(col("source"), xxhash64(col("sh")).as("shingle"))
    val sizes = slice.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = slice
      .as("a")
      .join(
        slice.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source")
      )
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    sizes
      .as("sa")
      .join(sizes.as("sb"), col("sa.source") < col("sb.source"))
      .join(
        inter,
        col("sa.source") === col("source_a") && col("sb.source") === col("source_b"),
        "left"
      )
      .select(
        col("sa.source").as("source_a"),
        col("sb.source").as("source_b"),
        col("sa.n_sh").as("n_a"),
        col("sb.n_sh").as("n_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - coalesce(col("inter"), lit(0L)))).as("jaccard")
      )
      .orderBy("source_a", "source_b")
  }

  // --- SimHash (C4) -------------------------------------------------------

  /** Per-document 64-bit SimHash over distinct words (bit set when the
    * signed bit-count is ≥ 0). One narrow codegen'd projection
    * (functions/SimHashExpr) — no explode, no shuffle: simhashing
    * pipelines at scan speed.
    *
    * Word hash: the top 60 bits of md5 (`conv(substr(md5,1,15))`) —
    * a universal hash like any other for SimHash purposes, chosen
    * because it is PORTABLE SQL, which puts this operator under the
    * DuckDB hash gate (xxhash64 isn't expressible there). Swap to
    * xxhash64 for maximum scan throughput; nothing downstream changes.
    */
  def simhashes(t: Tables): DataFrame = {
    graft.functions.SimHashExpr.register(t.spark)
    t.documents
      .select(
        col("doc_id"),
        expr(
          "simhash64(transform(array_distinct(split(text, ' ')), " +
            "w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)))"
        ).as("simhash")
      )
      .orderBy("doc_id")
  }

  /** C4: SimHash near-dup pairs with Hamming distance ≤ 3, found by
    * 4×16-bit band blocking (pigeonhole: ≤3 differing bits ⇒ at least
    * one band identical — exact, not probabilistic). rows-only oracle
    * (xxhash64 isn't portable SQL); spec cross-checks vs fingerprint
    * dups.
    */
  def simhashPairs(t: Tables, maxHamming: Int = 3): DataFrame = {
    val sh = simhashes(t)
    val bands = sh.select(
      col("doc_id"),
      col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)"))
        .as(Seq("band_idx", "band_key"))
    )
    // shuffle-hash like every other self-join in this file: both sides
    // canonicalize to ONE exchange (ReusedExchange — PlanSpec-asserted),
    // where a broadcast would recompute the map stage twice and a band
    // table never broadcasts at 100 TB anyway
    bands
      .as("a")
      .join(
        bands.as("b").hint("shuffle_hash"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(expr("a.simhash ^ b.simhash")).cast("long").as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** C2c: connected components of the near-dup graph — the group
    * resolution step real dedup needs (pairs alone under-merge:
    * A≈B, B≈C must collapse to one keeper even when A!≈C).
    *
    * Iterative min-label propagation: each round every node takes the
    * min component id among itself and its neighbors; converges in
    * O(component diameter) rounds. Each round is one distributed
    * join+agg; the driver only evaluates the scalar convergence check.
    * Per-round checkpoints truncate lineage so plans don't grow with
    * rounds — the standard large-graph pattern when GraphX-style
    * machinery isn't warranted.
    *
    * `checkpointDir`: `None` uses `localCheckpoint` (executor-local
    * blocks — fast, right for single-node and testing, but an executor
    * loss mid-iteration kills the lineage and the job). On a real
    * cluster pass a reliable location (HDFS/S3) and rounds become
    * replayable `checkpoint()`s — iteration survives executor loss.
    *
    * `postings`: a caller-materialized [[hashedPostings]] table to
    * derive the edge list from (shared-scan compositions); `None`
    * builds it from raw text.
    */
  def nearDupComponents(
      t: Tables,
      tau: Double = JaccardTau,
      checkpointDir: Option[String] = None,
      postings: Option[DataFrame] = None
  ): DataFrame = {
    checkpointDir.foreach(t.spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // materialize the pair list ONCE before mirroring — a union of two
    // branches over the raw plan would run the whole shingle/join
    // pipeline twice
    val posts = postings.getOrElse(hashedPostings(t))
    // sortForGate = false: the pair list only seeds the label
    // resolution (order-insensitive), so the gate tail's global sort —
    // and the range sampler's re-execution of the verification
    // aggregate it would cost — is skipped (r22)
    val pairs = materialize(
      ngramJaccardFrom(posts, tau, sortForGate = false).select(col("doc_a"), col("doc_b")))
    // r21: the batch path now goes through the SAME size-guarded
    // resolution the delta merges use — a pair list under the driver
    // bound resolves as one bounded collect + union-find (identical
    // labels: union-by-min ≡ min-label convergence, the C22i
    // argument), and an over-threshold list falls back to the
    // distributed loop unchanged. At gate scale this removes ~4-6
    // jobs per propagation round of pure driver latency from every
    // operator that composes components (canonical, cluster stats,
    // curation, release); at 100 TB the guard picks the loop.
    contractedComponents(pairs, materialize)
  }

  /** The min-label-propagation loop of [[nearDupComponents]] over ANY
    * materialized (doc_a, doc_b) pair list — shared with the media
    * near-dup resolution ([[graft.operators.Multimodal]] C38c), whose
    * edges come from the banded perceptual-hash join instead of the
    * shingle index. `pairs` must already be materialized (checkpoint /
    * localCheckpoint); its blocks are freed once the iteration
    * converges.
    */
  /** Pair count up to which the CONTRACTED label graph resolves
    * driver-side — ~2M collected Rows is a few hundred MB transient
    * plus ~64 MB of map entries, comfortably inside any real driver.
    * The contraction argument makes the typical merge collect
    * thousands, not millions (nodes ∝ delta edge endpoints), so the
    * bound is a safety valve, not a tuning knob.
    */
  private val ContractedDriverMaxPairs = 2000000L

  /** Min-label components over the CONTRACTED label graph of a delta
    * merge. The whole point of contraction is that this graph is
    * delta-sized, so iterating it distributed wastes 2 Spark jobs per
    * propagation round on a structure that fits one bounded collect:
    * the common case is a driver-side union-find (union-by-min keeps
    * every root the set's min element, so root = the merged component
    * label — the same answer min-label propagation converges to),
    * the same bounded-driver-work class as IVF centroid training.
    * An over-threshold graph (a pathological delta touching
    * everything) falls back to the shared distributed loop — same
    * labels, exactly. MEASURED (bench subset, sf0.1): the three
    * component gate keys 29.9 → 26.8 s with the four-merge streaming
    * key 16.7 → 13.5 s (−19%) — the removed cost is the label loop's
    * per-round job latency (2 jobs/round); the remaining merge cost is
    * the posting probe and state passes, which are the parts that
    * scale. At 100 TB the trade only improves: the label graph stays
    * delta-sized while the distributed loop's per-round latency would
    * grow with cluster scheduling, not data.
    */
  /** `preMaterialized = false` lets a caller pass the LAZY pair plan:
    * the threshold probe and the row fetch are ONE bounded take (r22 —
    * previously a count job followed by a collect job over a frame the
    * caller had also paid a localCheckpoint job to materialize: three
    * actions per merge where one suffices, pure driver latency at gate
    * scale). The rare over-threshold fallback materializes the pairs
    * itself before iterating them distributed.
    */
  private[graft] def contractedComponents(
      pairs: DataFrame,
      materialize: DataFrame => DataFrame,
      preMaterialized: Boolean = true
  ): DataFrame = {
    // take(bound+1) answers "over threshold?" AND delivers the rows in
    // the same action; the count+collect pair it replaces paid two.
    val taken = pairs.take(ContractedDriverMaxPairs.toInt + 1)
    if (taken.length > ContractedDriverMaxPairs)
      return componentsFromPairs(
        if (preMaterialized) pairs else materialize(pairs), materialize)
    val spark = pairs.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    taken.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      // union by MIN: the root of every set stays its smallest member
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    if (preMaterialized) freeMaterialized(pairs)
    // sorted like the distributed loop's return — map iteration order
    // must not leak into a gate frame's row order
    parent.keysIterator.map(k => (k, find(k))).toSeq.sorted.toDF("doc_id", "component")
  }

  private[graft] def componentsFromPairs(
      pairs: DataFrame,
      materialize: DataFrame => DataFrame
  ): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // round 0 folded into initialization: from identity labels the
    // first propagation is just min(id, min(neighbors)) — computing it
    // directly off the edge list saves one materialize + count round
    // (a full corpus-pass at scale). Mirrored edges put every paired
    // node in doc_a, so the groupBy covers the whole vertex set.
    var labels = materialize(
      edges
        .groupBy(col("doc_a").as("id"))
        .agg(min(col("doc_b")).as("nbr_min"))
        .select(col("id"), least(col("id"), col("nbr_min")).as("component"))
    )
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(
          labels.select(col("id").as("nbr"), col("component").as("nbr_component")),
          col("doc_b") === col("nbr")
        )
        .groupBy(col("doc_a").as("id"))
        .agg(min(col("nbr_component")).as("nbr_comp"))
      // carry the previous label so the convergence check is a filter
      // over the just-materialized round, not another join
      val halfStep = labels
        .join(neighborMin, Seq("id"), "left")
        .select(
          col("id"),
          col("component").as("prev"),
          least(col("component"), coalesce(col("nbr_comp"), col("component"))).as("comp1")
        )
      // pointer jump (path compression): also follow the CANDIDATE
      // component id's own label — label trees halve in depth every
      // round, so a chain-shaped component (near-dup drift chains:
      // A≈B≈C≈…) converges in O(log diameter) rounds instead of
      // diameter. Cost: one extra join per round against the
      // node-sized label table — strictly smaller than the edge join
      // the round already pays.
      val next = materialize(
        halfStep
          .join(
            labels.select(col("id").as("comp1"), col("component").as("jump")),
            Seq("comp1"),
            "left"
          )
          .select(
            col("id"),
            col("prev"),
            least(col("comp1"), coalesce(col("jump"), col("comp1"))).as("component")
          )
      )
      changed = next.filter(col("component") =!= col("prev")).count()
      // the superseded round's blocks are dead the moment `next` is
      // materialized — free them eagerly instead of letting dozens of
      // rounds of debris sit in executor storage until the context
      // cleaner gets there (a long-lived session calling this operator
      // repeatedly would otherwise accumulate every round of every call)
      freeMaterialized(labels)
      labels = next.select("id", "component")
    }
    // the pair list only feeds the (now converged) iteration
    freeMaterialized(pairs)
    // the returned frame reads the FINAL materialized round; its blocks
    // (and, with a reliable checkpointDir, its files) live until the
    // caller unpersists or the context cleaner collects them —
    // cleanCheckpoints=true makes the file half automatic
    labels.orderBy("id").select(col("id").as("doc_id"), col("component"))
  }

  /** Free the executor storage blocks behind a superseded
    * localCheckpoint'd frame. Only the LogicalRDD's persisted blocks
    * are touched; reliable `checkpoint()` rounds are files, whose
    * cleanup is `spark.cleaner.referenceTracking.cleanCheckpoints`'s
    * job (documented on [[nearDupComponents]]).
    */
  private[graft] def freeMaterialized(df: DataFrame): Unit =
    df.queryExecution.analyzed
      .collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false))

  // --- Embedding cosine (C5) ----------------------------------------------

  /** C5: embedding-cosine near-dup pairs (τ = 0.4). Brute-force
    * threshold join at test SF — the corpus side stays a single
    * dataset so AQE can pick broadcast when it fits; the 100 TB path
    * is the hyperplane-LSH bucketing in Similarity.knnLsh (same
    * plumbing, bucketed candidates instead of the full pair space).
    */
  def embeddingCosine(t: Tables, tau: Double = 0.4): DataFrame = {
    // zero-norm guard: 0/0 cosine is NaN, which Spark's NaN-is-largest
    // comparison would treat as >= tau (the knnOn rule)
    val n = Similarity.vectors(t).filter(col("nrm") > 0)
    n.as("a")
      .join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.cosine >= tau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** C5 scale path: embedding near-dup pairs via hyperplane-LSH
    * buckets — candidates are same-bucket-in-any-table pairs (shuffle
    * on (table, bucket), cost ∝ tables × Σ bucket², never n²), then
    * the exact cosine filter runs on candidates only. rows-only oracle;
    * spec measures recall vs the exact C5 pairs.
    */
  def embeddingCosineLsh(t: Tables, tau: Double = 0.4): DataFrame = {
    val banded = Similarity.bandedVectors(t)
    banded
      .as("a")
      .join(
        banded.as("b").hint("shuffle_hash"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id")
      )
      .filter(Similarity.cosine >= tau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** C2h: top-k similar-document RETRIEVAL — for a deterministic doc
    * sample, the k nearest documents by shingle Jaccard regardless of
    * any threshold: the query-side twin of the τ-threshold dedup
    * family ("show me what this doc nearly duplicates" / nearest-
    * neighbor audit before deleting a cluster). A threshold join can't
    * answer it (the right τ differs per doc); a top-k per query can.
    *
    * Inverted-index join restricted to the sample on the query side
    * (candidates ∝ sample × posting co-occurrence, never corpus²),
    * intersection counted by the same partial-agg'd posting join as
    * C2, ranked through the bounded-heap TopKPerKey exec — no
    * per-query sort. Jaccard is an integer-ratio double: bit-identical
    * cross-engine, so the gate hashes it.
    */
  def topKSimilarDocs(t: Tables, sampleMod: Int = 20, k: Int = 3): DataFrame = {
    val posts   = hashedPostings(t)
    val queries = posts.filter(col("doc_id") % sampleMod === 0)
    val scored = queries
      .as("a")
      .join(
        posts.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id")
      )
      .groupBy(
        col("a.doc_id").as("query_doc"),
        col("b.doc_id").as("cand_doc"),
        col("a.n_sh").as("na"),
        col("b.n_sh").as("nb")
      )
      .agg(count(lit(1)).as("inter"))
      .select(
        col("query_doc"),
        col("cand_doc"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard")
      )
    graft.plans.TopK
      .perKey(scored, Seq("query_doc"), Seq(col("jaccard").desc, col("cand_doc")), k)
      .select("query_doc", "cand_doc", "jaccard", "rnk")
      .orderBy("query_doc", "rnk")
  }

  /** C22b: Bloom-filter admission — the RAM-bounded front of C22's
    * incremental dedup. The base corpus's normalized content hashes
    * fold into ONE fixed-size bloom sketch (Spark's own
    * BloomFilterAggregate, surfaced by [[graft.functions.BloomFuncs]]
    * — mergeable binary state, map-side combined), the single-row
    * sketch broadcasts, and the delta probes it with a codegen'd
    * might_contain. Verdicts: 'new' is CERTAIN (blooms have no false
    * negatives — safe to admit without further checks); 'seen_maybe'
    * is FP-bounded and goes to the exact reconciliation (C22).
    *
    * At 100 TB this is the admission-control architecture: the exact
    * hash index is a table you must shuffle-probe per batch, while
    * the sketch is megabytes resident in every executor — probe at
    * scan speed, pay the exact path only for the maybe set. rows-only
    * in the gate (the sketch layout is engine-specific); DedupSpec
    * proves zero false negatives against the exact twin on a crafted
    * base/delta mix and bounds the false-positive count.
    */
  /** C47: exact substring-SPAN dedup — maximal duplicated token spans
    * per document, the modality the doc-level (C1/C2) and fixed-chunk
    * (C1b) paths both miss: a k-token run copied verbatim anywhere in
    * the corpus (Lee et al.'s "Deduplicating Training Data" substring
    * semantics, realized as rolling windows instead of a suffix array
    * so it distributes). A token position is "duplicated" when some
    * corpus-duplicated k-window covers it; spans are the maximal runs
    * of duplicated positions — exactly the ranges a span-removal pass
    * would cut.
    *
    * Shape: posexplode + lead windows build each doc's k-grams (the
    * C2 shingle rule at k=5), occurrences count in ONE partial-agg'd
    * groupBy on the gram hash, duplicated positions come back via a
    * shuffle_hash join on that hash (groupBy + join-back — never a
    * count() window over a hot gram), and the island merge is a lag/
    * running-sum window on the doc_id partitioning (bounded by doc
    * length at any corpus size). Output ∝ duplicated mass. Joining on
    * xxhash64 of the gram, not the string (narrower shuffle; collision
    * P ≈ n²/2⁶⁵ — the string-keyed DuckDB oracle would flag one).
    *
    * The real corpus's partial spans all start mid-doc with ONE island
    * per doc, so the island BREAK is additionally gate-covered by a
    * derived splice fixture (doc_id % 31 == 1, ≥ 30 words): tokens
    * 1-10 and 21-30 of the source pasted around six unique middle
    * tokens — two copied chunks separated by never-duplicated text
    * force two islands in both the fixture doc (negated-id space, the
    * containment fixture's aliasing-proof rule) and its source.
    */
  def substringSpans(t: Tables, k: Int = 5): DataFrame = {
    val ws = split(col("text"), " ")
    val spliced = t.documents
      .filter(col("doc_id") % 31 === 1 && size(ws) >= 30)
      .select(
        (-col("doc_id") - 1L).as("doc_id"),
        concat_ws(
          " ",
          concat_ws(" ", slice(ws, 1, 10)) +:
            (('a' to 'f').map(s =>
              concat(lit("uq"), col("doc_id").cast("string"), lit(s.toString))
            ) :+ concat_ws(" ", slice(ws, 21, 10))): _*
        ).as("text")
      )
    substringSpansOn(
      t.documents.select(col("doc_id"), col("text")).unionByName(spliced),
      k
    )
  }

  /** The rolling k-gram windows (doc_id, pos, gram hash) shared by
    * [[substringSpansOn]] and [[despanOn]] — checkpointed, the
    * dupShingleFrac rule: the occurrence count and the join-back probe
    * can't share an exchange (partial-agg'd vs raw position payloads),
    * so without this the scan + posexplode + lead window subtree would
    * run twice.
    */
  private def kgramWindows(documents: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"window length must be >= 2, got $k")
    // compiled per-doc kernel (r21): each doc's positional k-gram
    // hashes in one map-only projection + posexplode — replaces the
    // posexplode + lead-window build, whose window shuffled and sorted
    // every word row of the corpus. Hash values are identical
    // (xxhash64 over the same concat_ws gram strings, seed 42).
    graft.functions.ShingleExprs.register(documents.sparkSession)
    documents
      .select(col("doc_id"), expr(s"kgram_hashes(split(text, ' '), $k)").as("ghs"))
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("pos", "gh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("gh"))
      .localCheckpoint()
  }

  /** [[substringSpans]] over any (doc_id, text) frame. */
  def substringSpansOn(documents: DataFrame, k: Int = 5): DataFrame = {
    val wins = kgramWindows(documents, k)
    val dupGrams = wins
      .groupBy("gh")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val dupPos = wins
      .join(dupGrams.hint("shuffle_hash"), "gh")
      .select("doc_id", "pos")
    val byDocPos = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn(
        "brk",
        when(col("pos") > lag("pos", 1).over(byDocPos) + k, 1L).otherwise(0L)
      )
      .withColumn("island", sum("brk").over(byDocPos))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"), (max("pos") + (k - 1)).as("span_end"))
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens")
      )
      .orderBy("doc_id", "span_start")
  }

  /** C52: substring-span REMOVAL — the composition that applies C47's
    * duplicated spans back onto the corpus and emits the cleaned
    * training text (Lee et al.'s dedup actually ends here, not at the
    * span report). Policy: the LOWEST doc_id carrying a duplicated
    * k-gram owns it and keeps its text intact; every other document
    * cuts the token positions covered by that gram's windows. Per doc:
    * original token count, cut count, and the md5 of the cleaned text
    * (narrow hash output instead of re-shipping 100 TB of strings
    * through the gate; the production variant writes the text).
    * Fully-duplicated non-owner docs clean to the empty string — the
    * exact-dup non-keepers are the degenerate whole-doc span case.
    *
    * Shape: the checkpointed k-gram windows feed one partial-agg'd
    * (cnt, min_doc) stats groupBy + shuffle_hash join-back; foreign
    * windows explode to covered positions (∝ duplicated mass); ONE
    * more corpus scan rebuilds tokens, left-joins the cut positions on
    * (doc_id, pos), and a per-doc aggregate reassembles the kept
    * tokens in position order. Two corpus scans total, all shuffles
    * keyed, per-doc work bounded by doc length.
    */
  def despan(t: Tables, k: Int = 5): DataFrame = despanOn(t.documents, k)

  def despanOn(documents: DataFrame, k: Int = 5): DataFrame =
    despanTextOn(documents, k)
      .select(col("doc_id"), col("n_tokens"), col("n_cut"), md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")

  /** [[despanOn]] with the cleaned TEXT in the output instead of its
    * md5 — the production variant a training pipeline actually writes
    * (the gate hashes to avoid re-shipping 100 TB of strings; a
    * corpus rewrite needs the strings). Same plan up to the final
    * projection.
    */
  def despanTextOn(documents: DataFrame, k: Int = 5): DataFrame = {
    val wins = kgramWindows(documents, k)
    val stats = wins
      .groupBy("gh")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_doc"))
      .filter(col("cnt") >= 2)
    val cuts = wins
      .join(stats.hint("shuffle_hash"), "gh")
      .filter(col("doc_id") =!= col("min_doc"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
      .withColumn("cut", lit(true))
    documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w"))
      .join(cuts.hint("shuffle_hash"), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cut"),
        concat_ws(
          " ",
          expr("transform(array_sort(collect_list(CASE WHEN cut IS NULL THEN struct(pos, w) END)), s -> s.w)")
        ).as("clean_text")
      )
  }

  /** C54: shingle document-frequency PROFILE — the audit a dedup
    * engineer runs before sizing the df cap (C2b's 100): for each
    * distinct df value, how many shingles carry it and how much
    * inverted-index JOIN COST that bucket contributes. A shingle in df
    * documents produces df·(df−1)/2 candidate pairs, so
    * `pair_mass = n_shingles · df·(df−1)/2` is exactly the per-bucket
    * term of the self-join's cost sum — the cumulative column answers
    * "what fraction of the join disappears if I cap at df ≤ X", which
    * is the number the cap constant must be defended with.
    *
    * Shape: the shared postings index → one partial-agg'd groupBy on
    * the shingle hash (df per shingle) → one tiny groupBy on df
    * (output = distinct df values at any corpus size) → a running-sum
    * window over those few rows. ALL arithmetic — products AND the
    * cumulative sum — runs in Decimal(38,0); only the two reported
    * columns cast to long at the very end, mirroring the oracle's
    * HUGEINT sum-then-cast shape (summing after an early long cast
    * would skip a null'd overflowed bucket and silently understate
    * exactly the mass the audit exists to expose).
    */
  def dfProfile(t: Tables): DataFrame = {
    val dec = "decimal(38,0)"
    val byDf = Window
      .orderBy(col("df").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shingleDf(hashedPostings(t))
      .groupBy("df")
      .agg(count(lit(1)).as("n_shingles"))
      .withColumn(
        // df·(df−1)/2 without a decimal division (whose result scale
        // could overflow-null at extreme precision): one of the two
        // factors is even, so halve THAT one in exact integer `div`
        // and multiply in Decimal(38,0)
        "pairs_per_shingle",
        when(
          pmod(col("df"), lit(2)) === 0,
          expr("df div 2").cast(dec) * (col("df") - 1L).cast(dec)
        ).otherwise(col("df").cast(dec) * expr("(df - 1) div 2").cast(dec)).cast(dec)
      )
      .withColumn("pair_mass_dec", (col("n_shingles").cast(dec) * col("pairs_per_shingle")).cast(dec))
      .withColumn("cum_pair_mass_above", sum("pair_mass_dec").over(byDf).cast("long"))
      .select(
        col("df"),
        col("n_shingles"),
        col("pair_mass_dec").cast("long").as("pair_mass"),
        col("cum_pair_mass_above")
      )
      .orderBy(col("df").desc)
  }

  /** C55: cross-modal AGREEMENT audit — every text near-dup pair
    * (C2's exact τ set) scored against its embedding cosine: pairs
    * the text signal calls duplicates but the embedding space places
    * far apart are the mislabeled/misaligned-embedding triage list
    * (if the embeddings were trained right, verbatim near-dups MUST
    * embed close — disagreement indicts the vectors, not the text).
    * The inverse audit (embedding-close, text-far) is C5 ∖ C2's pair
    * set; this direction is the one with a ground truth to lean on.
    *
    * Pairs restricted to ids carrying embeddings (inner joins — the
    * corpus and vector table needn't be 1:1 at scale). Two keyed
    * joins on the pair ends; the pair list ∝ duplicate mass, never
    * corpus². Cosine is the C5/C6 kernel with its zero-norm guard, so
    * the doubles hash-gate.
    */
  def modalityAgreement(t: Tables, tauE: Double = 0.3): DataFrame = {
    val n = Similarity.vectors(t).filter(col("nrm") > 0)
    ngramJaccard(t)
      .join(n.as("a"), col("doc_a") === col("a.vec_id"))
      .join(n.as("b"), col("doc_b") === col("b.vec_id"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("jaccard"),
        Similarity.cosine.as("cos"),
        (Similarity.cosine >= tauE).as("embeddings_agree")
      )
      .orderBy("doc_a", "doc_b")
  }

  /** C56: paraphrase candidates — the INVERSE of the C55 agreement
    * audit: pairs the embedding space places close (cosine ≥ τe) that
    * the text signal does NOT call near-dups (below the C2 τ set) —
    * exactly the paraphrase/translation/rewrite duplication that
    * motivates semantic dedup in the first place, surfaced with BOTH
    * scores so a reviewer sees how far apart the signals are. Each
    * survivor carries its exact (sub-threshold) shingle Jaccard,
    * computed only for the candidate pairs — never a second all-pairs
    * text pass.
    *
    * Shape: the C5 embedding pair join (broadcast/AQE at test SF) →
    * left-anti against the exact C2 pair set → the survivors' postings
    * intersect through a two-key (doc, shingle) equi-join restricted
    * to candidate ids — cost ∝ candidate mass × shingle sizes.
    * Zero-shared-shingle pairs report jaccard 0.
    *
    * This exact arm is the correctness baseline (all-pairs cosine —
    * quadratic in the vector count); [[paraphraseCandidatesLsh]] is
    * the 100 TB path, sourcing candidates from the C5 hyperplane-LSH
    * banded buckets with the identical downstream pipeline.
    */
  def paraphraseCandidates(
      t: Tables,
      tauE: Double = 0.4,
      tauJ: Double = JaccardTau
  ): DataFrame = {
    val n = Similarity.vectors(t).filter(col("nrm") > 0)
    val embPairs = n
      .as("a")
      .join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.cosine >= tauE)
      .select(
        col("a.vec_id").as("doc_a"),
        col("b.vec_id").as("doc_b"),
        Similarity.cosine.as("cos")
      )
    paraphraseFrom(t, embPairs, tauJ)
  }

  /** C56 scale arm: paraphrase candidates with the embedding pair
    * source swapped from the all-pairs cosine join to the C5
    * hyperplane-LSH banded buckets ([[embeddingCosineLsh]]'s candidate
    * shape — shuffle on (table, bucket), cost ∝ tables × Σ bucket²,
    * never n²), exact cosine verified per candidate. The anti-join vs
    * the text τ set and the posting-intersect Jaccard compose
    * unchanged, so output rows are a SUBSET of the exact arm with
    * identical attached scores — rows-only in the gate (LSH bucketing
    * isn't SQL-expressible), recall spec-pinned against the exact arm
    * (the C5/C7 discipline).
    */
  def paraphraseCandidatesLsh(
      t: Tables,
      tauE: Double = 0.4,
      tauJ: Double = JaccardTau
  ): DataFrame = {
    val banded = Similarity.bandedVectors(t)
    val embPairs = banded
      .as("a")
      .join(
        banded.as("b").hint("shuffle_hash"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id")
      )
      .filter(Similarity.cosine >= tauE)
      .select(
        col("a.vec_id").as("doc_a"),
        col("b.vec_id").as("doc_b"),
        Similarity.cosine.as("cos")
      )
      // a pair colliding in several bands appears once; cos is a pure
      // function of the pair, so the 3-column distinct is pair-distinct
      .distinct()
    paraphraseFrom(t, embPairs, tauJ)
  }

  /** C56 third arm — IVF-cell candidates: paraphrase pairs sourced
    * from the C51 k-means cell assignment (pairs sharing a cell —
    * Σ cell² instead of n², the SemDeDup candidate shape), exact
    * cosine verified per candidate, then the identical anti-join +
    * posting-intersect back half. Completes the C5-family symmetry:
    * the embedding-pair surface now has the same three arms
    * (exact / hyperplane-LSH / IVF-cell) as the dedup surface, so a
    * user choosing a scale path for one chooses it for both. Output ⊆
    * the exact arm with identical scores; cross-cell pairs are the
    * misses, and the C57 audit is the tool that sizes `cells` against
    * that miss mass. rows-only in the gate (k-means cells aren't
    * SQL-expressible — C51's rule); recall spec-pinned on the corpus
    * and the clustered fixture beside the LSH arm.
    */
  def paraphraseCandidatesIvf(
      t: Tables,
      tauE: Double = 0.4,
      tauJ: Double = JaccardTau
  ): DataFrame = {
    // checkpointed: both sides of the within-cell pair join read it
    val cellv = Similarity.cellAssignments(t).localCheckpoint()
    val embPairs = cellv
      .as("a")
      .join(
        cellv.as("b").hint("shuffle_hash"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id") &&
          col("a.nrm") > 0 && col("b.nrm") > 0
      )
      .filter(Similarity.cosine >= tauE)
      .select(
        col("a.vec_id").as("doc_a"),
        col("b.vec_id").as("doc_b"),
        Similarity.cosine.as("cos")
      )
    paraphraseFrom(t, embPairs, tauJ)
  }

  /** Shared back half of the paraphrase pipeline: anti-join the
    * embedding-near pairs against the exact text τ set, then compute
    * each survivor's exact sub-threshold Jaccard via a posting
    * intersect restricted to candidate ids.
    */
  private def paraphraseFrom(t: Tables, embPairs: DataFrame, tauJ: Double): DataFrame = {
    // endpoints must exist in documents — mirrors the oracle's inner
    // sz joins (docs ⊇ vectors at every SF today; the semi-joins pin
    // the rule so the two definitions cannot drift if that changes)
    val docIds = t.documents.select(col("doc_id"))
    // checkpointed: the candidate list feeds the intersection join AND
    // the final assembly (the dupShingleFrac rule)
    val cands = embPairs
      .join(ngramJaccard(t, tauJ).select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
      .join(docIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(docIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .localCheckpoint()
    val posts = hashedPostings(t)
    val inter = cands
      .select("doc_a", "doc_b")
      .join(posts.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(
        posts.as("pb").hint("shuffle_hash"),
        col("pb.doc_id") === col("doc_b") && col("pa.shingle") === col("pb.shingle")
      )
      .groupBy(col("doc_a"), col("doc_b"), col("pa.n_sh").as("na"), col("pb.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard")
      )
    cands
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("cos"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard")
      )
      .orderBy("doc_a", "doc_b")
  }

  def bloomAdmission(t: Tables): DataFrame = bloomAdmissionOn(t.documents)

  def bloomAdmissionOn(documents: DataFrame, estItems: Long = 1000000L): DataFrame = {
    graft.functions.BloomFuncs.register(documents.sparkSession)
    val isDelta = col("doc_id") % 10 === 0
    val hashes  = documents.select(col("doc_id"), normTextHashCol.as("text_hash"))
    // might_contain requires the sketch side be a constant or scalar
    // subquery (the engine inlines its one-row result before the probe
    // stage runs — the same "build once, ship everywhere" shape as a
    // broadcast, minus a join node in the plan)
    val sketchView = s"graft_bloom_sketch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    hashes
      .filter(!isDelta)
      .agg(expr(s"bloom_agg(xxhash64(text_hash), ${estItems}L)").as("bf"))
      .createOrReplaceTempView(sketchView)
    hashes
      .filter(isDelta)
      .select(
        col("doc_id"),
        when(
          expr(s"bloom_might_contain((SELECT bf FROM $sketchView), xxhash64(text_hash))"),
          "seen_maybe"
        ).otherwise("new").as("verdict")
      )
      .orderBy("doc_id")
  }
}
