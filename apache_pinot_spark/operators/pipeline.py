"""End-to-end pretraining-corpus curation — the composition every
operator family in this repo exists to serve, packaged as ONE staged
flow (the C4/RefinedWeb/RedPajama recipe shape):

    exact dedup → boilerplate removal → quality + language filter →
    PII redaction → source/domain frequency cap → near-dup dedup
    (MinHash-LSH → connected components → canonical survivors) →
    benchmark decontamination → optional LM-perplexity or DSIR
    selection → train/val/test splits

Each stage is the already-tested operator from its own module; this
module contributes the WIRING and the per-stage row accounting a real
pipeline audits (what did each filter cost?). Laziness is preserved:
``curate_corpus`` builds the staged plan without running a single job;
``curation_report`` triggers one count per requested stage.

Scale posture is inherited stage by stage (each operator documents its
own shuffles in SCALE.md): the pipeline adds NO driver materialization
of corpus data and no extra shuffles beyond its stages — stages chain
as plain DataFrames, so Catalyst fuses adjacent map-side stages
(quality/langid/redaction ride the same scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class _CachedStage:
    """Holds a persisted stage frame and unpersists it when the pipeline's
    artifact list dies (i.e. when the caller drops the stages dict) — the
    same deterministic-release stance as operators/lifecycle, without a
    checkpoint (stage caches are read by sibling plans via the cache
    manager's structural matching, so the frames must stay LAZY)."""

    def __init__(self, df: DataFrame):
        self.df = df

    def __del__(self):
        try:
            self.df.unpersist(False)
        except Exception:
            pass  # session gone — nothing to free


@dataclass
class CurationConfig:
    """Stage knobs; set a stage's enable flag False to skip it."""

    text_col: str = "text"
    id_col: str = "doc_id"
    # URL-level dedup (crawl-shaped corpora; requires ``url_col`` in the
    # frame — the cheapest duplicate kill, BEFORE any text parses)
    url_dedup: bool = False
    url_col: str = "url"
    # UT1-style domain blocklist (requires the blocked_domains frame)
    block_domains: bool = False
    # C4 banned-words gate (requires the word_blocklist frame);
    # max_bad_frac=0.0 is the C4 any-hit rule
    block_words: bool = False
    max_bad_frac: float = 0.0
    # trained model-based quality gate (requires the quality_model);
    # applied AFTER the heuristic quality/language gate
    min_model_prob: float | None = None
    # Unicode normalization (NFC + control/zero-width strip) BEFORE any
    # hashing stage — NFC/NFD variants of the same text must collide
    normalize_unicode: bool = False
    normalize_form: str = "NFC"
    # exact dedup
    exact_dedup: bool = True
    # Bloom-filter CROSS-SNAPSHOT dedup (the Dolma deduper shape):
    # drop documents (or excise paragraphs) already folded into a prior
    # release's filter — requires the bloom_ref=(filter_df, meta) pair
    # from operators/bloomdedup (build/save/load). Runs right after
    # exact dedup: within-corpus duplicates die first, then
    # already-released content.
    bloom_dedup: bool = False
    bloom_mode: str = "document"  # or "paragraph"
    # boilerplate (C4 repeated-line) removal
    boilerplate: bool = True
    boilerplate_min_count: int = 3
    # quality + language gate (quality_score_expr's 0-100 scale)
    quality_filter: bool = True
    min_quality: float = 50.0
    keep_langs: tuple = ("en",)  # empty/None = keep all languages
    # the Gopher/MassiveText composite (paper thresholds) as an
    # additional heuristic gate; dict overrides gopher_quality_expr
    # keywords (e.g. {"min_words": 20})
    gopher_quality: bool = False
    gopher_overrides: dict = field(default_factory=dict)
    # The Stack/StarCoder code-quality composite (for CODE corpora —
    # line-length/alpha/comment gates, autogen markers); dict overrides
    # codefilters.code_quality_expr keywords
    code_quality: bool = False
    code_overrides: dict = field(default_factory=dict)
    # PII redaction (rewrites text, drops no rows); None = all categories,
    # else a subset of redaction.PII_PATTERNS keys (e.g. the RE2-portable
    # redaction.PORTABLE_CATEGORIES when a SQL oracle must replay the pass)
    redact_pii: bool = True
    pii_categories: tuple | None = None
    # exact-substring dedup (Lee et al. 2021 span excision) — the
    # heaviest dedup tier (stride-1 window rows ~ total tokens), so off
    # by default; run it on already-document-deduped corpora
    substring_dedup: bool = False
    substring_window_tokens: int = 50
    # near-dup dedup
    near_dedup: bool = True
    near_num_hashes: int = 8
    near_band_size: int = 2
    near_shingle_n: int = 3
    near_threshold: float = 0.7
    # source/domain frequency cap (None = off); applies AFTER the
    # quality gate so junk does not consume a source's budget
    source_col: str = "source"
    max_source_share: float | None = None
    # benchmark decontamination
    decontaminate: bool = True
    contamination_n: int = 8
    max_contamination: float = 0.1
    # selection: 'none' | 'lm' (perplexity head buckets) | 'dsir'
    selection: str = "none"
    lm_keep_buckets: int = 2  # keep head buckets 1..k of 3
    dsir_n_select: int = 0
    # splits
    splits: dict = field(default_factory=lambda: {"train": 0.98, "val": 0.01,
                                                  "test": 0.01})
    split_salt: str = "v1"
    # portable (md5-prefix) split hashing so a SQL oracle can replay the
    # assignment; default stays xxhash64 (faster, JVM-side)
    split_portable: bool = False
    # stage names whose OUTPUT should be persisted (MEMORY_AND_DISK).
    # Spark's cache manager matches plans structurally, so every later
    # stage / count that embeds the cached stage's subtree reads the cache
    # instead of re-deriving the chain (the quality/langid expressions and
    # the exact-dedup join are expensive to re-run per downstream action).
    # Off by default — at 100 TB persisting a full-corpus stage is a real
    # storage decision the caller should make deliberately. Lifetime is
    # tied to the returned stage frames (lifecycle sweep releases them
    # when the stages dict dies).
    cache_stages: tuple = ()
    # Drop gate-input columns from the stage frames once their LAST
    # consuming stage has run (r14, guide §5/§6): the crawl url after
    # url_dedup, the host/source column after the domain blocklist (or
    # after source_cap when max_source_share is set). Off by default —
    # the stage frames are documented as "the corpus AS OF the stage",
    # same schema as the input; with the knob on, later stage frames
    # lose the spent columns. Why it exists: those columns otherwise
    # ride EVERY downstream Python pass (normalize ships all columns
    # through Arrow) and every cached/checkpointed stage frame — at
    # 100 TB that is corpus-scale url/host bytes written to checkpoint
    # storage per stage, read back per count, for columns nothing ever
    # reads again.
    drop_spent_columns: bool = False
    # 'persist' keeps the stage LAZY (MEMORY_AND_DISK; sibling plans
    # reuse it via the cache manager's structural matching — the
    # default, and the right choice when one downstream plan consumes
    # the stages). 'checkpoint' = EAGER localCheckpoint: each cached
    # stage materializes once at build time and the logical lineage
    # TRUNCATES there, so a consumer that builds MANY sibling plans
    # over the stages (per-stage audit accounting) re-executes nothing
    # and re-optimizes only the tiny truncated plans — measured 2-4×
    # on the gate accounting, where the canonicalizer/Gopher trees are
    # large and every count subtree re-embedded them. The trade is
    # explicit: checkpoint mode gives up curate_corpus's build-no-jobs
    # laziness for the cached stages (and local-checkpoint blocks don't
    # survive executor loss) — use persist for long cluster runs.
    cache_mode: str = "persist"


def curate_corpus(
    docs: DataFrame,
    config: CurationConfig | None = None,
    benchmark: DataFrame | None = None,
    reference: DataFrame | None = None,
    blocked_domains: DataFrame | None = None,
    word_blocklist: DataFrame | None = None,
    quality_model=None,
    lang_model=None,
    bloom_ref: tuple | None = None,
) -> dict[str, DataFrame]:
    """Run the staged curation plan. Returns {stage_name: DataFrame} in
    stage order — every entry is the corpus AS OF that stage, fully
    lazy. Its schema is the input's, plus a ``split`` column on the
    final stage; with ``drop_spent_columns`` each stage after a gate
    column's last consumer also lacks that column (``url_col`` after
    url_dedup, ``source_col`` after the domain blocklist, or after
    source_cap when ``max_source_share`` is set). ``benchmark`` feeds
    decontamination; ``reference`` feeds the lm/dsir selection stage;
    ``blocked_domains`` (a `domain` frame) feeds the UT1 gate,
    ``word_blocklist`` (a `word` frame) the C4 gate, ``quality_model``
    (operators/quality_clf.QualityModel) the trained quality gate,
    ``bloom_ref`` ((filter_df, meta) from operators/bloomdedup) the
    cross-snapshot dedup stage — each required only when its stage is
    enabled."""
    from apache_pinot_spark.operators import curation, dedup, redaction
    from apache_pinot_spark.operators import textanalysis as tx
    from apache_pinot_spark.operators.chunking import assign_splits
    from apache_pinot_spark.operators.components import dedup_keep_canonical

    cfg = config or CurationConfig()
    t, k = cfg.text_col, cfg.id_col
    stages: dict[str, DataFrame] = {"input": docs}
    cur = docs
    # Artifacts whose localCheckpoint blocks back the lazy stage plans
    # (CC labels, the LM model): hold them on every stage frame so the
    # lifecycle sweep cannot free blocks a stage still needs (joins and
    # filters produce NEW DataFrame objects that do not carry the
    # operators' own keepalive attributes through).
    artifacts: list = []

    if cfg.cache_mode not in ("persist", "checkpoint"):
        raise ValueError(f"unknown cache_mode {cfg.cache_mode!r}")

    def _stage(name, df):
        if name in (cfg.cache_stages or ()):
            if cfg.cache_mode == "checkpoint":
                # spread BEFORE checkpointing: AQE coalesces small
                # post-join/window outputs to one partition, the
                # checkpoint would lock that in, and every JVM gate
                # stacked on the checkpointed RDD would run single-core
                # (predicate pushdown sinks filters to the RDD scan, so
                # repartitioning above the checkpoint cannot fix it —
                # measured 16 s single-core vs 2 s for the Gopher gate).
                # _spread, not an unconditional repartition (r14, guide
                # §2.4): a NARROW stage over an upstream checkpoint (a
                # pure JVM filter like the Gopher gate) already inherits
                # the parent's fan-out, and the unconditional
                # repartition was a full extra shuffle of corpus text
                # per such stage; _spread's plan probe keeps the
                # repartition exactly where AQE could have coalesced
                # (join/aggregate/window upstream) and skips it when the
                # narrow plan's metadata-only partition count is already
                # at parallelism.
                # eager: a lazy checkpoint would be re-executed (and
                # thrown away) by downstream _spread partition probes
                # before anything pins it.
                df = dedup._spread(df).localCheckpoint(eager=True)
            else:
                from pyspark import StorageLevel

                df = df.persist(StorageLevel.MEMORY_AND_DISK)
            # release when the stages dict (held by every stage frame) dies
            artifacts.append(_CachedStage(df))
        df._curation_artifacts_keepalive = artifacts
        stages[name] = df
        return df

    def _refresh_n_chars(df):
        # Stages that REWRITE the text column must not carry a stale
        # per-document length through the accounting — recompute it,
        # keeping the column's existing type.
        if "n_chars" in df.columns:
            typ = dict(df.dtypes)["n_chars"]
            df = df.withColumn("n_chars", F.length(F.col(t)).cast(typ))
        return df

    if cfg.url_dedup:
        from apache_pinot_spark.operators.urls import url_dedup

        if cfg.url_col not in cur.columns:
            raise ValueError(
                f"url_dedup=True requires a {cfg.url_col!r} column")
        dd = url_dedup(cur, url_col=cfg.url_col, id_col=k)
        if "canonical_url" not in cur.columns:
            # drop only the column WE added — a pre-existing
            # rel=canonical signal from the input passes through
            dd = dd.drop("canonical_url")
        if cfg.drop_spent_columns:
            # no later stage reads the raw url — keep it out of every
            # downstream Python pass and cached stage frame
            dd = dd.drop(cfg.url_col)
        cur = _stage("url_dedup", dd)
    if cfg.block_domains:
        from apache_pinot_spark.operators.urls import blocked_domain_filter

        if blocked_domains is None:
            raise ValueError(
                "block_domains=True requires a blocked_domains frame")
        nxt = blocked_domain_filter(
            cur, blocked_domains, host_col=cfg.source_col, id_col=k)
        if cfg.drop_spent_columns and cfg.max_source_share is None:
            # the blocklist was the host column's last consumer
            # (source_cap reads it again when max_source_share is set —
            # that path drops it after the cap instead)
            nxt = nxt.drop(cfg.source_col)
        cur = _stage("domain_blocklist", nxt)
    if cfg.normalize_unicode:
        cur = _stage("normalize", _refresh_n_chars(tx.normalize_corpus(
            cur, text_col=t, form=cfg.normalize_form)))
    if cfg.exact_dedup:
        cur = _stage("exact_dedup", dedup.dedupe_exact(cur, text_col=t, key_col=k))
    if cfg.bloom_dedup:
        from apache_pinot_spark.operators import bloomdedup as _bl

        if bloom_ref is None:
            raise ValueError(
                "bloom_dedup=True requires bloom_ref=(filter_df, meta)")
        bl_df, bl_meta = bloom_ref
        if cfg.bloom_mode == "document":
            nxt = _bl.filter_unseen(cur, t, bl_df, bl_meta)
        elif cfg.bloom_mode == "paragraph":
            nxt = _bl.dedup_paragraphs(
                cur, bl_df, bl_meta, text_col=t, id_col=k
            ).drop("n_paragraphs_removed")
            # all-paragraphs-removed docs keep only separators/blanks
            # (span excision preserves blank segments); gate on the
            # trimmed length so they still drop here
            nxt = _refresh_n_chars(nxt).filter(
                F.length(F.trim(F.col(t))) > 0)
        else:
            raise ValueError(f"unknown bloom_mode {cfg.bloom_mode!r}")
        cur = _stage("bloom_dedup", nxt)
    if cfg.boilerplate:
        cur = _stage("boilerplate", _refresh_n_chars(
            curation.remove_repeated_lines(
                cur, text_col=t, key_col=k,
                min_count=cfg.boilerplate_min_count)))
    if cfg.block_words:
        if word_blocklist is None:
            raise ValueError(
                "block_words=True requires a word_blocklist frame")
        cur = _stage("word_blocklist", curation.blocklist_filter(
            cur, word_blocklist, text_col=t, key_col=k,
            max_bad_frac=cfg.max_bad_frac))
    if cfg.quality_filter:
        keep = tx.quality_score_expr(F.col(t)) >= F.lit(cfg.min_quality)
        if cfg.keep_langs and lang_model is None:
            keep = keep & tx.lang_id_expr(F.col(t)).isin(*cfg.keep_langs)
        nxt = cur.filter(keep)
        if cfg.keep_langs and lang_model is not None:
            # trained tier (operators/langid): predicted language via
            # the softmax scorer — one broadcast join + groupBy(id),
            # then a keyed semi join back
            from apache_pinot_spark.operators.langid import score_lang

            keep_ids = (
                score_lang(nxt, lang_model, text_col=t, id_col=k)
                .filter(F.col("lang").isin(*cfg.keep_langs))
                .select(k)
            )
            nxt = nxt.join(keep_ids, on=k, how="left_semi")
        cur = _stage("quality_language", nxt)
    if cfg.gopher_quality:
        cur = _stage("gopher_quality", cur.filter(
            tx.gopher_quality_expr(F.col(t), **(cfg.gopher_overrides or {}))))
    if cfg.code_quality:
        from apache_pinot_spark.operators.codefilters import (
            code_quality_expr,
        )

        cur = _stage("code_quality", cur.filter(
            code_quality_expr(F.col(t), **(cfg.code_overrides or {}))))
    if cfg.min_model_prob is not None:
        from apache_pinot_spark.operators.quality_clf import score_quality

        if quality_model is None:
            raise ValueError(
                "min_model_prob requires a quality_model")
        keep_ids = score_quality(cur, quality_model, text_col=t,
                                 id_col=k) \
            .filter(F.col("quality_prob") >= cfg.min_model_prob) \
            .select(k)
        cur = _stage("model_quality", cur.join(keep_ids, on=k, how="left_semi"))
    if cfg.redact_pii:
        cats = list(cfg.pii_categories) if cfg.pii_categories else None
        cur = _stage("pii_redaction", _refresh_n_chars(
            cur.withColumn(t, redaction.redact_expr(F.col(t), cats))))
    if cfg.max_source_share is not None:
        from apache_pinot_spark.operators.chunking import cap_source_share

        nxt = cap_source_share(
            cur, cfg.source_col, cfg.max_source_share, key_col=k,
            salt=cfg.split_salt, portable=cfg.split_portable,
        )
        if cfg.drop_spent_columns:
            nxt = nxt.drop(cfg.source_col)  # the cap was its last reader
        cur = _stage("source_cap", nxt)
    if cfg.near_dedup:
        pairs = dedup.lsh_verified_pairs(
            cur, text_col=t, key_col=k,
            num_hashes=cfg.near_num_hashes, band_size=cfg.near_band_size,
            shingle_n=cfg.near_shingle_n, threshold=cfg.near_threshold,
        )
        deduped = dedup_keep_canonical(cur, pairs, key_col=k)
        artifacts.append(deduped._cc_labels_keepalive)
        cur = _stage("near_dedup", deduped)
    if cfg.substring_dedup:
        from apache_pinot_spark.operators.substring_dedup import (
            dedup_exact_substrings,
        )

        cur = _stage("substring_dedup", _refresh_n_chars(
            dedup_exact_substrings(
                cur, text_col=t, id_col=k,
                window_tokens=cfg.substring_window_tokens,
            ).drop("n_chars_removed")))
    if cfg.decontaminate:
        if benchmark is None:
            raise ValueError("decontaminate=True requires a benchmark frame")
        cont = curation.ngram_contamination(
            cur, benchmark, text_col=t, key_col=k, n=cfg.contamination_n
        ).select(k, "contamination")
        cur = (
            cur.join(cont, on=k, how="left")
            .filter(
                F.coalesce(F.col("contamination"), F.lit(0.0))
                <= cfg.max_contamination
            )
            .drop("contamination")
        )
        cur = _stage("decontamination", cur)
    if cfg.selection == "lm":
        from apache_pinot_spark.operators import lm

        if reference is None:
            raise ValueError("selection='lm' requires a reference frame")
        model = lm.train_bigram_lm(reference, text_col=t)
        scores = lm.lm_doc_scores(cur, model, text_col=t, id_col=k)
        buckets = lm.perplexity_buckets(scores, id_col=k, buckets=3)
        keep_ids = buckets.filter(
            F.col("bucket") <= cfg.lm_keep_buckets
        ).select(k)
        artifacts.append(model)
        cur = _stage("lm_selection", cur.join(F.broadcast(keep_ids), on=k))
    elif cfg.selection == "dsir":
        from apache_pinot_spark.operators import dsir

        if reference is None:
            raise ValueError("selection='dsir' requires a reference frame")
        if cfg.dsir_n_select < 1:
            raise ValueError("selection='dsir' requires dsir_n_select >= 1")
        weights = dsir.dsir_log_weights(cur, reference, text_col=t)
        picked = dsir.dsir_resample(
            cur, weights, cfg.dsir_n_select, text_col=t, id_col=k
        ).select(k)
        cur = _stage("dsir_selection", cur.join(F.broadcast(picked), on=k))
    elif cfg.selection != "none":
        raise ValueError(f"unknown selection {cfg.selection!r}")

    _stage("splits",
           assign_splits(cur, key_col=k, fractions=cfg.splits,
                         salt=cfg.split_salt, portable=cfg.split_portable))
    return stages


def curation_report(stages: dict[str, DataFrame]) -> list[tuple[str, int]]:
    """[(stage, rows)] in stage order — the audit every curation run
    publishes. One count job per stage (counts are the one action a row
    accounting inherently needs); call on the stages you care about or
    slice the dict first."""
    return [(name, df.count()) for name, df in stages.items()]
