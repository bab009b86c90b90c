"""End-to-end training-corpus preparation: the composition a 100-TB
pretraining pipeline actually runs, built entirely from this package's
operators so a user gets the whole flow in one call.

Stage order follows standard practice (cheapest and highest-yield
filters first, pair-generating stages on the already-shrunk corpus):

  0. boilerplate strip — (optional) C4-style cross-document line dedup
                         BEFORE the quality gate, so navigation/cookie
                         boilerplate does not distort quality metrics.
  0.5 URL dedup        — (optional) keep the first document per
                         canonical URL (tracking params stripped) —
                         cheaper than any content dedup, so it runs
                         before them.
  0.7 domain filter    — (optional) registrable-domain block/allow
                         lists (C4 badwords domains, RefinedWeb URL
                         filtering); rows with no parseable host are
                         kept (no-evidence contract).
  1. quality gate      — row-local column predicates (no shuffle):
                         token-count bounds, quality score, optional
                         language allow-list, PII redaction, and
                         (optional) the Gopher repetition ceilings —
                         also row-local HOF folds, still no shuffle.
  2. exact dedup       — keep the lowest-id member per normalized-text
                         fingerprint (one window shuffle).
  3. near dedup        — SimHash pigeonhole pairs -> connected
                         components -> keep each cluster's canonical;
                         optionally followed by SemDeDup semantic
                         dedup over a joined embedding column.
  4. decontamination   — drop docs exactly matching OR sharing >=
                         min 8-gram hits with the benchmark set
                         (benchmark side broadcast; corpus shuffle-free).
  5. mixing (optional) — deterministic temperature-weighted sampling
                         down to a token budget (shuffle-free filter).
  6. packing           — greedy context-window packing per language,
                         closed-form offsets (one shuffle on the group).

Every stage is the library operator, not a re-implementation — this
module only wires them, counts attrition per stage, and returns both the
packed corpus and the audit trail. Deliberately immutable snapshots
(Spark-native) like Suite.clean, never in-place mutation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dataval_spark.operators import dedup as D
from dataval_spark.operators import text as X
from dataval_spark.operators.packing import pack_greedy


def _observe(frame: DataFrame, obs: Observation, *aggs: Column) -> DataFrame:
    """``frame`` with its row count ``n`` (plus ``aggs``) observed into
    ``obs`` by whichever action first runs it."""
    return frame.observe(obs, F.count(F.lit(1)).alias("n"), *aggs)


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_tokens: int = 5,
    max_tokens: int = 1 << 20,
    min_quality: float = 0.0,
    langs: tuple[str, ...] | None = None,
    simhash_bits: int = 60,
    max_hamming: int = 3,
    decontam_ngram: int = 8,
    window_tokens: int = 2048,
    redact: bool = True,
    checkpoint_dir: str | None = None,
    pack_shards: int = 1,
    split_long: bool = False,
    gopher: bool = False,
    gopher_min_tokens: int = 50,
    strip_boilerplate: bool = False,
    boilerplate_max_occurrences: int = 2,
    dedup_url_col: str | None = None,
    domain_block=None,
    domain_allow=None,
    paragraph_dedup: bool = False,
    remove_spans: bool = False,
    span_tokens: int = 20,
    embeddings: DataFrame | None = None,
    emb_dim: int = 64,
    emb_id_col: str = "doc_id",
    emb_vec_col: str = "embedding",
    semantic_k: int = 16,
    semantic_threshold: float = 0.95,
    budget_tokens: int | None = None,
    mixing_tau: float = 0.7,
    source_col: str = "source",
    mixing_seed: int = 0,
    quantize_embeddings: bool = False,
    ppl_lm=None,
    max_ppl: float | None = None,
    split_spec: dict[str, float] | None = None,
    split_seed: int = 0,
) -> dict:
    """Run the full preparation flow. NOTE: this is a pipeline runner,
    not a plan builder: it runs Spark jobs at call time.
    - Its pins are EAGER checkpoints, one job each: the exact-deduped
      frame always; the near-deduped frame with ``paragraph_dedup`` or
      ``remove_spans``; the paragraph-deduped frame with both. Every
      later plan, ``packed`` and the caller's write included, reads a
      pin as one leaf instead of re-planning the lineage above it.
    - The near-dedup phase (simhash_clusters): one count over the
      distinct SimHash codes. When the codes and their pigeonhole
      candidates fit the broadcast threshold, the codes are collected
      once and one numpy pass finds and labels the near pairs on the
      driver. Above it, the salted pair join's bucket-stats job, then
      connected components, which checkpoints the rep pairs and labels
      them on the driver or in Spark rounds by the same rule.
    On a real cluster pass ``checkpoint_dir``: the pins and connected
    components' checkpoints are then reliable checkpoint() files
    (executor-loss-safe) instead of localCheckpoint blocks (see
    connected_components).

    Returns a dict with the per-stage frames, a ``stats`` callable
    returning the attrition funnel, and a ``release`` callable. The
    funnel counts are observed (``DataFrame.observe``) on actions that
    run anyway, so stats() after a full action on ``packed`` runs no
    Spark job:
    - n_input through n_exact_deduped: the exact-dedup checkpoint job,
      which this call runs itself (a lazy checkpoint would report
      these as 0);
    - n_near_deduped, n_decontaminated (the same value when no
      ``benchmark`` is given), n_sampled: the caller's first action on
      ``packed`` (budget sampling's own per-source pass fills the first
      two); these sit below the packing window's shuffle, so any action
      on ``packed`` computes them over every row;
    - n_packed_bins: the same action, counting bin-start rows. It is
      used only if that action read every packed row (e.g. a write, not
      ``limit(1)``), which stats() checks against the rows that entered
      the packing window.
    stats() counts any stage whose observation was not filled that
    way. The observed metrics stop packing's window from being pruned,
    so a bare ``packed.count()`` still computes the bins.

    ``release()`` drops this call's checkpoints: their blocks, and with
    ``checkpoint_dir`` their files. Call it when done with the result
    (after stats()). From then on every returned frame below a pin
    (all but quality_pass) raises if read; none returns rows. Another
    call's checkpoints are untouched. Not this call's to drop: the
    operators' one live cache per session (SimHash codes, boilerplate
    lines), and the checkpoints of connected components' rounds path,
    which Spark's cleaner frees.

    Keys: quality_pass (n_url_deduped in stats when ``dedup_url_col``
    is set), exact_deduped, near_deduped (post-semantic-dedup
    when ``embeddings`` is given), decontaminated, sampled + mixture
    (None unless ``budget_tokens`` is set), packed, stats().

    Optional stages: ``gopher=True`` adds the repetition ceilings to the
    quality gate; ``embeddings`` (+``emb_dim``) runs SemDeDup semantic
    dedup after the SimHash pass; ``budget_tokens`` samples the
    decontaminated corpus down to a token budget with
    temperature-``mixing_tau`` source weights before packing.
    ``strip_boilerplate`` removes C4-style cross-document repeated lines
    before anything else; ``dedup_url_col`` names a URL column to dedup
    on (canonical form, keep-first) ahead of the content dedups —
    ``domain_block``/``domain_allow`` (collections or single-column
    DataFrames of registrable domains) filter on that same column;
    ``split_long`` explodes documents longer than ``window_tokens``
    into window-sized chunk rows (chunk_idx column) before packing;
    raise ``max_tokens`` accordingly or long docs die at the gate.
    ``paragraph_dedup`` keeps one copy of every corpus-duplicated
    paragraph (Dolma's layer); ``remove_spans`` adds the substring-level
    ExactSubstr-style pass (>= ``span_tokens``-token spans duplicated
    corpus-wide, first occurrence spared) — both after document
    near-dedup, coarse to fine. ``quantize_embeddings`` runs the
    semantic stage over int8-quantized vectors (absmax per vector;
    cosine is scale-invariant so thresholds carry over up to rounding) —
    4x less embedding bytes stored, joined, and shuffled through
    SemDeDup, the realized saving at 100-TB embedding stores.

    ``ppl_lm`` + ``max_ppl`` add the CCNet model tier to the quality
    stage: documents scoring above ``max_ppl`` perplexity under the
    reference n-gram LM (train_ngram_lm on a trusted corpus) are
    dropped via a semi-join before dedup ever sees them. ``split_spec``
    (e.g. {"train": .98, "val": .01, "test": .01}) assigns every
    document a deterministic content-hash split BEFORE chunking and
    packs within (lang, split) — chunks follow their document, no
    training window ever mixes splits, and membership survives reruns
    and cluster resizes (the eval-contamination guard).
    """
    reliable = checkpoint_dir is not None
    if reliable:
        docs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    pins: list[DataFrame] = []
    # funnel key -> (observed frame, its observation)
    stages: dict[str, tuple[DataFrame, Observation]] = {}

    def _pin(frame: DataFrame) -> DataFrame:
        # eager: the checkpoint job fills the observations below it (a
        # lazy one would report them as 0), and every later plan, the
        # caller's write included, starts from this leaf
        frame = D._ckpt(frame, reliable)
        pins.append(frame)
        return frame

    def _stage(key: str, frame: DataFrame) -> DataFrame:
        # a caller's partial action on a returned frame must not be the
        # first to fill an observation: each observed frame is either
        # run in full inside this call (up to exact dedup, by its
        # checkpoint job) or reaches the caller only through `packed`
        obs = Observation()
        frame = _observe(frame, obs)
        stages[key] = (frame, obs)
        return frame

    def release() -> None:
        """Drop this call's checkpoints; its frames raise if read after."""
        for frame in pins:
            D._ckpt_release(frame)

    if strip_boilerplate:
        from dataval_spark.operators.boilerplate import remove_boilerplate_lines

        # rewrites text in place; row count is unchanged
        docs = remove_boilerplate_lines(
            docs, id_col, text_col, max_occurrences=boilerplate_max_occurrences
        )
    # every stage up to exact dedup is observed under the exact-dedup
    # checkpoint job, before this call returns; each funnel stage gets
    # its own count so attrition is attributed to the right stage (URL
    # dedup BEFORE the domain filter)
    docs = _stage("n_input", docs)
    if dedup_url_col is not None:
        from dataval_spark.operators.urls import url_dedup_key

        # keep-first per canonical URL; NULL/blank-URL docs are all kept
        # (no URL evidence — same contract as the dirty-vector rule).
        # Each such doc gets a per-row key so no-URL docs never collapse
        # into one giant group.
        docs = _stage("n_url_deduped", D.dedup_keep_first(
            docs, id_col,
            key=F.coalesce(
                url_dedup_key(F.col(dedup_url_col)),
                F.concat(F.lit("\x00nourl:"), F.col(id_col).cast("string")),
            ),
        ))
    if (domain_block is not None or domain_allow is not None):
        from dataval_spark.operators.urls import filter_by_domain

        if dedup_url_col is None:
            raise ValueError(
                "domain_block/domain_allow need dedup_url_col to name "
                "the URL column"
            )
        docs = _stage("n_domain_filtered", filter_by_domain(
            docs, dedup_url_col, block=domain_block, allow=domain_allow
        ))
    tc = X.token_count(F.col(text_col))
    gate = (
        F.col(text_col).isNotNull()
        & (tc >= min_tokens)
        & (tc <= max_tokens)
        & (X.quality_score(F.col(text_col)) >= min_quality)
    )
    if langs is not None:
        gate = gate & X.lang_id(F.col(text_col)).isin(*langs)
    quality_pass = docs.where(gate)
    if gopher:
        from dataval_spark.operators.quality_filters import gopher_repetition_ok

        # Gopher applies the repetition ceilings AFTER its >=50-word
        # length gate: below that, a single occurrence of one long
        # n-gram already exceeds the top-n-gram ceilings. Shorter docs
        # pass through (min_tokens still governs them).
        quality_pass = (
            gopher_repetition_ok(quality_pass, text_col)
            .where((tc < gopher_min_tokens) | F.col("repetition_ok"))
            .select(*docs.columns)  # metrics are gate-internal
        )
    if (ppl_lm is None) != (max_ppl is None):
        raise ValueError("ppl_lm and max_ppl must be set together")
    if ppl_lm is not None:
        from dataval_spark.operators.ngram_lm import score_perplexity

        # CCNet's model tier on top of the heuristic gates: drop docs the
        # reference LM finds implausible. Folded into the quality stage
        # of the funnel (it IS a quality filter); the semi-join keeps
        # only ids whose perplexity clears the ceiling — docs the LM
        # cannot score (empty text) are already gone via min_tokens
        keep = (
            score_perplexity(quality_pass, ppl_lm, id_col=id_col,
                             text_col=text_col)
            .where(F.col("ppl") <= F.lit(float(max_ppl)))
            .select(id_col)
        )
        quality_pass = quality_pass.join(keep, id_col, "left_semi")
    if redact:
        quality_pass = quality_pass.withColumn(
            text_col, X.redact_pii(F.col(text_col))
        )

    # pin: everything downstream (the SimHash codes, the keep-canonical
    # anti-join, and the user's final writes) re-derives this scan +
    # fingerprint-window shuffle otherwise
    exact_deduped = _pin(
        _stage(
            "n_exact_deduped",
            D.dedup_keep_first(
                _stage("n_quality_pass", quality_pass), id_col, text_col
            ),
        ),
    )

    # exact-code collapse first: the pair search + CC run on distinct
    # simhash codes, not documents — same labels, measured 3x on the
    # template-heavy test corpus (see simhash_clusters docstring)
    labels = D.simhash_clusters(
        exact_deduped, id_col, text_col,
        bits=simhash_bits, max_hamming=max_hamming,
        checkpoint_dir=checkpoint_dir,
    )
    near_deduped = D.keep_cluster_canonical(exact_deduped, labels, id_col)

    if embeddings is not None:
        from dataval_spark.operators.semdedup import semantic_dedup

        emb = embeddings.select(
            F.col(emb_id_col).alias(id_col), F.col(emb_vec_col).alias("_emb")
        )
        if quantize_embeddings:
            from dataval_spark.operators.quantize import quantize_vec

            # int8 vectors flow through the join + SemDeDup shuffles at
            # 1/4 the bytes; cosine's per-vector scale cancellation means
            # the threshold needs no adjustment beyond rounding noise
            emb = emb.select(
                id_col, quantize_vec(F.col("_emb")).alias("_emb")
            )
        # left join: docs without an embedding carry a NULL vector,
        # which the dedup family treats as "no near-dup evidence" and
        # always keeps
        with_vecs = near_deduped.join(emb, id_col, "left")
        sem = semantic_dedup(
            with_vecs,
            emb_dim,
            k=semantic_k,
            threshold=semantic_threshold,
            id_col=id_col,
            vec_col="_emb",
            checkpoint_dir=checkpoint_dir,
        )
        near_deduped = sem.kept.drop("_emb")

    if paragraph_dedup or remove_spans:
        # both layers consume their input TWICE (fingerprint groupBy +
        # join back), which would re-derive the whole upstream funnel
        # per use — pin the post-doc-dedup frame once
        near_deduped = _pin(near_deduped)

    if paragraph_dedup:
        from dataval_spark.operators.paragraphs import dedup_paragraphs

        # Dolma's layer: duplicated paragraphs kept once corpus-wide.
        # Coarser than spans, finer than docs — runs between them.
        near_deduped = dedup_paragraphs(near_deduped, id_col, text_col)

    if remove_spans:
        from dataval_spark.operators.spans import remove_repeated_spans

        if paragraph_dedup:
            # the span pass reads its input twice too; don't re-run the
            # paragraph rebuild for each use
            near_deduped = _pin(near_deduped)
        # substring-level pass runs on the already-document-deduped
        # corpus (Lee et al.'s ExactSubstr layer: near-dup docs share
        # long spans without being near-dups; rewrite, not row drop)
        near_deduped = remove_repeated_spans(
            near_deduped, id_col, text_col,
            span_tokens=span_tokens, min_occurrences=2,
        )

    if paragraph_dedup or remove_spans:
        # the rewrite stages can hollow a document out (e.g. a doc that
        # IS one big duplicated span); re-apply the token floor so empty
        # husks don't reach packing — the gate upstream saw pre-rewrite
        # text
        near_deduped = near_deduped.where(
            X.token_count(F.col(text_col)) >= min_tokens
        )

    # from here on the stages are observed on the chain that feeds
    # packing, filled by the caller's first action on `packed`
    decontaminated = near_deduped
    if benchmark is None:
        to_pack = _stage("n_near_deduped", near_deduped)
        stages["n_decontaminated"] = stages["n_near_deduped"]
    else:
        exact_hits = D.contamination(near_deduped, benchmark, id_col, text_col)
        fuzzy_hits = D.ngram_contamination(
            near_deduped, benchmark, n=decontam_ngram,
            id_col=id_col, text_col=text_col,
        )
        contaminated = (
            exact_hits.select(id_col)
            .union(fuzzy_hits.select(id_col))
            .distinct()
        )
        decontaminated = near_deduped.join(contaminated, id_col, "left_anti")
        to_pack = _stage(
            "n_decontaminated",
            _stage("n_near_deduped", near_deduped).join(
                contaminated, id_col, "left_anti"
            ),
        )

    sized = to_pack.withColumn("n_tok", X.token_count(F.col(text_col)))

    mixture = None
    if budget_tokens is not None:
        from dataval_spark.operators.mixing import sample_to_budget

        if source_col not in sized.columns:
            raise ValueError(
                f"budget_tokens set but source column {source_col!r} is "
                f"missing — mixing needs a per-doc source"
            )
        # its per-source token pass reads every row of `sized`, so it
        # fills the near/decontaminated observations before we return
        sized, mixture = sample_to_budget(
            sized, budget_tokens, source_col, "n_tok", id_col,
            tau=mixing_tau, seed=mixing_seed,
        )

    sampled_frame = sized  # what "sampled"/n_sampled report: the
    # budget-sampled corpus in DOCUMENT rows, before any chunk explode
    if budget_tokens is not None:
        sized = _stage("n_sampled", sampled_frame)
    pack_group = lang_col
    if split_spec is not None:
        from dataval_spark.operators.mixing import assign_split

        # deterministic content-hash routing (stable across reruns and
        # cluster resizes — the anti-eval-contamination property), BEFORE
        # any chunk explode so every chunk of a document lands in its
        # document's split, and folded into the pack GROUP key so no
        # training window ever mixes splits
        sized = sized.withColumn(
            "split",
            assign_split(F.col(id_col).cast("string"), split_spec, split_seed),
        ).withColumn(
            "_pack_group", F.concat_ws("|", F.col(lang_col), F.col("split"))
        )
        pack_group = "_pack_group"
    pack_order = id_col
    if split_long:
        from dataval_spark.operators.packing import split_long_docs

        # explode over-window docs into window-sized chunks AFTER
        # sampling (budgets count documents once); chunk token counts
        # come out of the split closed-form — no second tokenization
        # pass. The pack order key becomes (doc, chunk) so the window's
        # sort stays deterministic across equal doc ids
        sized = split_long_docs(
            sized.drop("n_tok"), id_col, text_col, window_tokens,
            count_col="n_tok",
        )
        sized = sized.withColumn(
            "_pack_order",
            F.concat_ws(
                ":",
                F.col(id_col).cast("string"),
                F.lpad(F.col("chunk_idx").cast("string"), 6, "0"),
            ),
        )
        pack_order = "_pack_order"

    # pack_shards: at corpus scale the language key's cardinality bounds
    # the packing sort's parallelism — size ~ cores / n_langs (see
    # packing.pack_greedy). Bins are counted as bin-start rows per
    # (group, shard), so split_spec's (lang, split) bins count apart.
    # Rows entering the window are observed below its shuffle, so every
    # action fills that count in full; the packed-row count equals it
    # only if the action read every packed row.
    pack_input, packed_rows = Observation(), Observation()
    flagged = pack_greedy(
        _observe(sized, pack_input), "n_tok", window_tokens, pack_group,
        pack_order, n_shards=pack_shards, start_col="_bin_start",
    )
    packed = _observe(
        flagged, packed_rows, F.count_if(F.col("_bin_start")).alias("bins")
    ).drop("_bin_start")
    if split_long:
        packed = packed.drop("_pack_order")
    if split_spec is not None:
        packed = packed.drop("_pack_group")

    sc = docs.sparkSession.sparkContext

    def stats() -> dict:
        # observed values where an action filled them (see docstring); a
        # count() for the rest, once per distinct stage frame
        seen = D._filled(
            [*(obs for _, obs in stages.values()), pack_input, packed_rows], sc
        )
        counts: dict[int, int] = {}
        funnel = {}
        for key, (frame, obs) in stages.items():
            if id(frame) not in counts:
                counts[id(frame)] = (
                    seen[obs]["n"] if obs in seen else frame.count()
                )
            funnel[key] = counts[id(frame)]
        complete = (
            packed_rows in seen and pack_input in seen
            and seen[packed_rows]["n"] == seen[pack_input]["n"]
        )
        funnel["n_packed_bins"] = (
            seen[packed_rows]["bins"] if complete
            else flagged.where(F.col("_bin_start")).count()
        )
        return funnel

    return {
        "quality_pass": quality_pass,
        "exact_deduped": exact_deduped,
        "near_deduped": near_deduped,
        "decontaminated": decontaminated,
        "sampled": sampled_frame if budget_tokens is not None else None,
        "mixture": mixture,
        "packed": packed,
        "stats": stats,
        "release": release,
    }


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    dims: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """One-pass per-dimension corpus profile — the documents-side analog
    of the validation suite's partition metrics: doc/token counts,
    token-length percentiles (approx_percentile sketch), mean quality,
    and an HLL-estimated exact-dup ratio. Dimensions missing from the
    frame are skipped (whole-corpus row when none exist). One shuffle,
    all JVM built-ins."""
    present = [d for d in dims if d in df.columns]
    tc = X.token_count(F.col(text_col))
    base = df.select(
        *present,
        F.col(text_col).alias("_t"),
        tc.alias("_n"),
        X.quality_score(F.col(text_col)).alias("_q"),
        F.md5(X.normalize(F.col(text_col))).alias("_fp"),
    )
    agg = (
        base.groupBy(*present)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("_t").isNull(), 1)).alias("n_null_text"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n_tokens"),
            F.round(F.avg("_n"), 2).alias("avg_tokens"),
            F.expr("approx_percentile(_n, 0.5)").alias("p50_tokens"),
            F.expr("approx_percentile(_n, 0.95)").alias("p95_tokens"),
            F.round(F.avg("_q"), 4).alias("avg_quality"),
            F.approx_count_distinct("_fp").alias("approx_distinct"),
        )
    )
    return agg.withColumn(
        "est_dup_ratio",
        F.round(
            F.greatest(
                F.lit(0.0),
                1 - F.col("approx_distinct") / F.col("n_docs"),
            ),
            4,
        ),
    )
