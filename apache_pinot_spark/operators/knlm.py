"""Interpolated Kneser-Ney n-gram language model (orders 2..5) — the
perplexity gate the published CCNet/RedPajama pipelines actually run
(Wenzek et al. 2020 use a 5-gram KenLM; Chen & Goodman 1998 §4 is the
interpolated-KN estimator implemented here with one discount per order,
D_k = n1/(n1 + 2·n2), their eq. 26 leave-one-out estimate).

Same engine discipline as the bigram tier (operators/lm.py), upgraded
to the real estimator:

  * Training touches the reference corpus ONCE: one explode into
    (token, context-key...) positions feeds a single tagged groupBy
    that yields the raw k-gram counts for EVERY order in one shuffle
    (r13 — was one corpus-cache pass + shuffle per order). Every other
    count table — Kneser-Ney CONTINUATION counts (distinct left
    extensions) for the lower orders, per-context denominators and
    distinct-continuation counts — is one tagged vocab-scale
    aggregation over that frame, never a second corpus scan.
  * Probabilities assemble bottom-up through vocab-scale joins:
      p_1(w)    = max(N1+(·w) − D_1, 0)/N1+(··) + λ_1 · 1/(V+1)
      p_k(h,w)  = max(U_k(h,w) − D_k, 0)/den_k(h)
                  + D_k · N1+(h·)/den_k(h) · p_{k−1}(h′,w)
    with U_N raw counts, U_{k<N} continuation counts, h′ = h minus its
    first token. The unrounded doubles flow through the assembly; each
    SHIPPED entry is ln()-ed, rounded to ``quantize`` decimals and cast
    to DECIMAL exactly once (the DSIR convention), so per-document
    score sums are order-independent and replay verbatim in SQL.
  * Shipped tables are PRUNED top-K by (count DESC, key ASC) — the
    deterministic sort-limit a KenLM filter applies — and broadcast at
    score time. Backoff weights λ_k(h) ship for the top contexts; a
    pruned-away context backs off with weight 1 (log 0), the standard
    pruned-ARPA approximation, stated rather than hidden.
  * Scoring is the ARPA longest-match walk expressed as ONE corpus
    pass: explode positions, N−1 broadcast left joins on (h_k, w), N−1
    broadcast context joins, then a CASE that picks the longest hit and
    sums the traversed backoffs — all DECIMAL adds.
  * At 100 TB the reference is a bounded sample (the quality_clf note);
    the corpus being scored only ever flows through the one explode +
    groupBy(doc).

OOV: the unigram uniform mass splits over V+1 units; the extra unit is
the OOV score (logp_unk), mirroring lm.py's add-one convention.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import Decimal
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_pinot_spark.operators.dedup import _spread
from apache_pinot_spark.operators.dsir import _tokens

if TYPE_CHECKING:  # lm.py does not import knlm — no cycle, but keep the
    from apache_pinot_spark.operators.lm import BigramLM  # runtime lazy

_LOGP_DECIMAL = "DECIMAL(26,12)"
_SUM_DECIMAL = "DECIMAL(38,12)"


@dataclass(frozen=True)
class KNModel:
    """Pruned interpolated-KN model. ``probs[k]`` (k = 2..order) maps
    (h, w) → logp DECIMAL with h the space-joined (k−1)-token context;
    ``probs[1]`` maps w → logp. ``backoffs[k]`` maps h → logb DECIMAL
    (ln λ_k(h)). All DataFrames are bounded (pruned) and broadcast at
    score time."""

    order: int
    probs: dict  # k -> DataFrame
    backoffs: dict  # k -> DataFrame (k >= 2)
    logp_unk: Decimal
    discounts: dict  # k -> float (diagnostics / oracle replay)
    quantize: int = 6


def _position_ctx_cols(toks: Column, i: Column, order: int) -> list:
    """Per-position context keys h2..h_order as plain string columns
    (NULL when the position has fewer than k−1 preceding tokens): for a
    0-based position ``i``, h_k joins the 0-based tokens [i−k+1, i−1]
    with spaces — `element_at` is 1-based, so those are 1-based indices
    [i−k+2, i]. Whole-stage-codegen expressions throughout; the old
    formulation built an array<struct<ctx,w>> through interpreted
    `transform`+`slice` HOF lambdas, which profiled as the dominant
    per-row cost of both KN training and scoring (guide §4.1: prefer
    built-ins that codegen). The `when` guard short-circuits per row, so
    out-of-range element_at indices are never evaluated."""
    cols = []
    for k in range(2, order + 1):
        parts = [F.element_at(toks, i - (k - 2) + j) for j in range(k - 1)]
        cols.append(
            F.when(i >= k - 1, F.concat_ws(" ", *parts)).alias(f"h{k}"))
    return cols


def _positions_frame(df: DataFrame, text_col: str, order: int,
                     id_col: str | None = None,
                     outer: bool = False) -> DataFrame:
    """Exploded (w, h2..h_order[, id]) position rows — one per token.
    outer=True keeps empty/NULL-text rows as a single all-NULL position
    (the scoring path's empty-doc marker)."""
    toks = _tokens(F.col(text_col))
    gen = (F.posexplode_outer if outer else F.posexplode)
    base_cols = [F.col(id_col)] if id_col else []
    ex = df.select(*base_cols, toks.alias("__toks"),
                   gen(toks).alias("__i", "w"))
    out_cols = base_cols + [F.col("w")] + _position_ctx_cols(
        F.col("__toks"), F.col("__i"), order)
    return ex.select(*out_cols)


def train_kn_lm(
    reference: DataFrame,
    text_col: str = "text",
    order: int = 3,
    prune: dict | None = None,
    ctx_prune: dict | None = None,
    quantize: int = 6,
) -> KNModel:
    """Fit interpolated KN of ``order`` on the reference corpus.

    ``prune[k]`` caps the shipped order-k probability table (default
    50k/200k-ish per order); ``ctx_prune[k]`` caps the shipped backoff
    contexts. Pruning is (count DESC, h ASC, w ASC) — deterministic,
    SQL-replayable."""
    if not 2 <= order <= 5:
        raise ValueError(f"order must be in 2..5, got {order}")
    # raw k-gram count tables for ALL orders k = 2..order in ONE
    # corpus pass and ONE shuffle (r13, guide §2.4: the per-order
    # groupBys each re-read the persisted position cache and paid a
    # full shuffle stage; at bench scale the tables are tiny — 931
    # bigram / 26.5k trigram types from 112k positions — so KN
    # training was stage-count-bound, not data-bound). Each position
    # emits one (k, h_k) struct per defined context; map-side
    # partial aggregation collapses to type counts before the
    # exchange, so shuffle bytes equal the two separate shuffles
    # combined. The raw unigram table is never used — order 1 runs
    # on continuation counts per Kneser-Ney.
    pos = _positions_frame(_spread(reference), text_col, order)
    raw_tbl = _tagged_kgram_counts(pos, order).persist()
    return _assemble_kn_lm(raw_tbl, order, prune, ctx_prune, quantize,
                           own_raw=True)


def _tagged_kgram_counts(pos: DataFrame, order: int,
                         keep_null_h2: bool = False) -> DataFrame:
    """(k, h, w, cnt) raw k-gram type counts for every order k = 2..order
    from one tagged explode + one shuffle over a positions frame.
    keep_null_h2=True also keeps the k=2 rows whose context is NULL (the
    first-token positions) — exactly the extra rows the bigram stupid-
    backoff trainer's (prev, w) count table needs, letting the fused
    trainer (train_kn_bigram_lm) share ONE count shuffle across both
    estimators; the KN assembly filters them back out (its group keys
    separate NULL-h rows, so every non-NULL count is unchanged)."""
    tag = F.explode(F.array(*[
        F.struct(F.lit(k).alias("k"), F.col(f"h{k}").alias("h"))
        for k in range(2, order + 1)
    ])).alias("t")
    cond = F.col("t.h").isNotNull()
    if keep_null_h2:
        cond = cond | (F.col("t.k") == 2)
    return (
        pos.select("w", tag)
        .where(cond)
        .groupBy(F.col("t.k").alias("k"), F.col("t.h").alias("h"), "w")
        .agg(F.count("*").alias("cnt"))
    )


def _assemble_kn_lm(
    raw_tbl: DataFrame,
    order: int,
    prune: dict | None,
    ctx_prune: dict | None,
    quantize: int,
    own_raw: bool,
) -> KNModel:
    """Assemble a KNModel from the (k, h, w, cnt) raw count table
    (h NOT NULL rows only; ``_tagged_kgram_counts``). own_raw=True when
    this trainer persisted ``raw_tbl`` itself and should release it;
    the fused trainer shares one persisted count table across both
    estimators and owns its lifetime (own_raw=False)."""
    prune = dict(prune or {})
    ctx_prune = dict(ctx_prune or {})
    default_prune = {1: 50_000, 2: 200_000, 3: 200_000, 4: 200_000,
                     5: 200_000}
    default_ctx = {k: 100_000 for k in range(2, 6)}

    # vocab-scale intermediates persisted for the duration of training:
    # the final tag-union materialization would otherwise RE-EXECUTE
    # every shared subtree per union branch (p_{k-1} feeds both its own
    # prune and p_k's join; raw_tbl feeds cont_tbl and the top order) —
    # measured 2-3x the training wall time without these
    scratch: list[DataFrame] = []
    try:
        if own_raw:
            scratch.append(raw_tbl)

        # continuation tables C_k (k < order) from raw_{k+1} TYPES:
        # drop the first context token, count distinct left extensions —
        # all orders in one vocab-scale shuffle over the tagged frame
        sp = F.instr("h", " ")
        suf = (F.when(sp > 0, F.expr("substring(h, instr(h, ' ') + 1)"))
               .otherwise(F.lit("")))
        cont_tbl = (
            raw_tbl.select((F.col("k") - 1).alias("k"), suf.alias("h"), "w")
            .groupBy("k", "h", "w")
            .agg(F.count("*").alias("cnt"))
        )
        # used_tbl: continuation counts for k < order, raw counts at the
        # top order — ONE persisted frame; per-order views filter the tag
        used_tbl = cont_tbl.unionByName(
            raw_tbl.where(F.col("k") == order)).persist()
        scratch.append(used_tbl)
        used = {k: used_tbl.where(F.col("k") == k).select("h", "w", "cnt")
                for k in range(1, order + 1)}

        # ONE collect for every training constant: per-order discount
        # stats n1/n2, plus the unigram totals den_1 and V (populates
        # the raw/used caches once)
        by_k = {r["k"]: r for r in used_tbl.groupBy("k").agg(
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).alias("n2"),
            F.sum("cnt").alias("den"),
            F.count(F.lit(1)).alias("v"),
        ).collect()}
        # an order with no rows (empty reference, short documents)
        # collects no group: its stats are all zero
        zero = {"n1": 0, "n2": 0, "den": 0, "v": 0}
        den1 = float(by_k.get(1, zero)["den"] or 0)
        v = int(by_k.get(1, zero)["v"] or 0)
        if den1 <= 0:
            raise ValueError("reference corpus has no bigram types to "
                             "train continuation counts on")
        discounts: dict[int, float] = {}
        for k in range(1, order + 1):
            n1 = float(by_k.get(k, zero)["n1"] or 0)
            n2 = float(by_k.get(k, zero)["n2"] or 0)
            discounts[k] = (n1 / (n1 + 2.0 * n2)) if (n1 + 2.0 * n2) > 0 \
                else 0.5

        d1 = discounts[1]
        lam1 = d1 * v / den1
        p_unk = lam1 * (1.0 / (v + 1))

        # bottom-up probability assembly (unrounded doubles)
        p_prev = used[1].select(
            "w",
            (F.greatest(F.col("cnt") - F.lit(d1), F.lit(0.0))
             / F.lit(den1)
             + F.lit(lam1) * F.lit(1.0 / (v + 1))).alias("p"),
        )
        p_prev = p_prev.persist()
        scratch.append(p_prev)
        probs: dict[int, DataFrame] = {}
        backoffs: dict[int, DataFrame] = {}
        cap1 = prune.get(1, default_prune[1])
        probs[1] = (
            used[1].join(p_prev, on="w")
            .orderBy(F.desc("cnt"), F.asc("w"))
            .limit(cap1)
            .select("w", F.round(F.log("p"), quantize)
                    .cast(_LOGP_DECIMAL).alias("logp"))
        )
        # per-context denominators and distinct-continuation counts for
        # every order in ONE shuffle over the tagged frame (r13: was one
        # groupBy stage per order)
        ctx_stats = used_tbl.where(F.col("k") >= 2).groupBy("k", "h").agg(
            F.sum("cnt").alias("den"),
            F.count(F.lit(1)).alias("n1p"),
        ).persist()
        scratch.append(ctx_stats)
        for k in range(2, order + 1):
            dk = discounts[k]
            stats_k = ctx_stats.where(F.col("k") == k).select(
                "h", "den", "n1p")
            base = (
                used[k]
                .join(stats_k, on="h")
                .withColumn("hsuf", suf)
            )
            # join the lower order's UNROUNDED p on (suffix, w); k=2
            # joins the unigram frame (h='' there, key is just w)
            if k == 2:
                lower = p_prev.select("w", F.col("p").alias("p_lo"))
                base = base.join(lower, on="w")
            else:
                lower = p_prev.select(F.col("h").alias("hsuf"), "w",
                                      F.col("p").alias("p_lo"))
                base = base.join(lower, on=["hsuf", "w"])
            cur = base.select(
                "h", "w", "cnt",
                (F.greatest(F.col("cnt") - F.lit(dk), F.lit(0.0))
                 / F.col("den")
                 + F.lit(dk) * F.col("n1p") / F.col("den")
                 * F.col("p_lo")).alias("p"),
            )
            capk = prune.get(k, default_prune[k])
            probs[k] = (
                cur.orderBy(F.desc("cnt"), F.asc("h"), F.asc("w"))
                .limit(capk)
                .select("h", "w", F.round(F.log("p"), quantize)
                        .cast(_LOGP_DECIMAL).alias("logp"))
            )
            ctx_cap = ctx_prune.get(k, default_ctx[k])
            backoffs[k] = (
                stats_k.orderBy(F.desc("den"), F.asc("h"))
                .limit(ctx_cap)
                .select("h", F.round(
                    F.log(F.lit(dk) * F.col("n1p") / F.col("den")),
                    quantize).cast(_LOGP_DECIMAL).alias("logb"))
            )
            p_prev = cur.select("h", "w", "p").persist()
            scratch.append(p_prev)

        # ONE eager materialization for every shipped table (the lm.py
        # tag-union trick): lineage truncates so score plans never
        # re-scan the reference, and the whole model costs one job
        # instead of 2·order−1
        from apache_pinot_spark.operators.lifecycle import (
            materialize_release)

        parts = [probs[1].select(F.lit("p1").alias("tag"),
                                 F.lit("").alias("h"), "w", "logp")]
        for k in range(2, order + 1):
            parts.append(probs[k].select(F.lit(f"p{k}").alias("tag"),
                                         "h", "w", "logp"))
            parts.append(backoffs[k].select(
                F.lit(f"b{k}").alias("tag"), "h",
                F.lit(None).cast("string").alias("w"),
                F.col("logb").alias("logp")))
        model_tbl = parts[0]
        for p in parts[1:]:
            model_tbl = model_tbl.unionByName(p)
        model_tbl = materialize_release(model_tbl)
        probs[1] = model_tbl.where(F.col("tag") == "p1") \
            .select("w", "logp")
        for k in range(2, order + 1):
            probs[k] = model_tbl.where(F.col("tag") == f"p{k}") \
                .select("h", "w", "logp")
            backoffs[k] = model_tbl.where(F.col("tag") == f"b{k}") \
                .select("h", F.col("logp").alias("logb"))
            # lazy views over the checkpoint blocks: keep it alive
            probs[k]._kn_tbl_keepalive = model_tbl
            backoffs[k]._kn_tbl_keepalive = model_tbl
        probs[1]._kn_tbl_keepalive = model_tbl
    finally:
        for df in scratch:
            try:
                df.unpersist()
            except Exception:
                pass

    return KNModel(
        order=order,
        probs=probs,
        backoffs=backoffs,
        logp_unk=Decimal(str(round(math.log(p_unk), quantize))),
        discounts=discounts,
        quantize=quantize,
    )


def train_kn_bigram_lm(
    reference: DataFrame,
    text_col: str = "text",
    order: int = 3,
    prune: dict | None = None,
    ctx_prune: dict | None = None,
    quantize: int = 6,
    vocab_size: int = 50_000,
    bigram_size: int = 200_000,
    backoff: float = 0.4,
):
    """Train the interpolated-KN model AND the stupid-backoff bigram LM
    (operators/lm.BigramLM) from ONE reference-corpus explode and ONE
    tagged count shuffle (r14, guide §2.4): the bigram trainer's
    (prev, w) position-count table is exactly the tagged table's k=2
    slice with NULL contexts kept (prev == h2; a first token is a NULL-
    context k=2 position), so both estimators assemble from one shared
    persisted count frame — the reference is scanned once instead of
    twice. Returns ``(KNModel, BigramLM)``, each bit-identical to its
    single-trainer counterpart (same counts in, same deterministic
    prune, same round/quantize — pinned by
    test_fused_training_is_bit_identical)."""
    from apache_pinot_spark.operators.lm import _assemble_bigram_lm

    if not 2 <= order <= 5:
        raise ValueError(f"order must be in 2..5, got {order}")
    if vocab_size < 1 or bigram_size < 0:
        raise ValueError("vocab_size must be >= 1 and bigram_size >= 0")
    if not 0 < backoff <= 1:
        raise ValueError(f"backoff must be in (0, 1], got {backoff}")
    pos = _positions_frame(_spread(reference), text_col, order)
    all_tbl = _tagged_kgram_counts(pos, order, keep_null_h2=True).persist()
    # the bigram (prev, w) counts: k=2 rows INCLUDING the NULL-context
    # first-token positions (h2 == prev by construction)
    pw = all_tbl.where(F.col("k") == 2).select(
        F.col("h").alias("prev"), "w", "cnt")
    # the KN raw counts: every order, NULL contexts excised (group keys
    # separate NULL-h rows, so non-NULL counts are untouched)
    raw_tbl = all_tbl.where(F.col("h").isNotNull())
    # both assemblies are EAGER (bounded model tables materialize via
    # localCheckpoint), so the shared count cache can be dropped after
    # them, on every path (an empty reference raises in the KN
    # assembly); the first assembly's first action populates it,
    # everything after reads it.
    try:
        bigram = _assemble_bigram_lm(pw, vocab_size, bigram_size, backoff,
                                     quantize)
        kn = _assemble_kn_lm(raw_tbl, order, prune, ctx_prune, quantize,
                             own_raw=False)
    finally:
        all_tbl.unpersist()
    return kn, bigram


def _kn_join_model(cur: DataFrame, model: KNModel) -> DataFrame:
    """Broadcast-join every pruned model table onto a positions frame:
    per order k, probs on (h_k, w) → p_k and backoffs on h_k → b_k,
    then the unigram table on w → p1. Shared by kn_doc_scores and
    kn_bigram_doc_scores (the bit-identity guarantee lives in ONE
    place)."""
    n = model.order
    for k in range(2, n + 1):
        pk = model.probs[k].select(
            F.col("h").alias(f"h{k}"), F.col("w").alias("w"),
            F.col("logp").alias(f"p{k}"))
        cur = cur.join(F.broadcast(pk), on=[f"h{k}", "w"], how="left")
        bk = model.backoffs[k].select(
            F.col("h").alias(f"h{k}"), F.col("logb").alias(f"b{k}"))
        cur = cur.join(F.broadcast(bk), on=f"h{k}", how="left")
    p1 = model.probs[1].select("w", F.col("logp").alias("p1"))
    return cur.join(F.broadcast(p1), on="w", how="left")


def _kn_logp_expr(model: KNModel) -> Column:
    """The ARPA longest-match CASE walk over the joined p_k/b_k columns:
    pick the longest available match, add the backoff weights of every
    traversed higher order — all DECIMAL adds. Shared by both scorers."""
    n = model.order
    unk = F.lit(model.logp_unk).cast(_LOGP_DECIMAL)
    zero = F.lit(Decimal(0)).cast(_LOGP_DECIMAL)

    def bsum(ks):
        out = zero
        for k in ks:
            out = out + F.coalesce(F.col(f"b{k}"), zero)
        return out

    expr = F.coalesce(F.col("p1"), unk) + bsum(range(2, n + 1))
    for k in range(2, n + 1):
        expr = F.when(F.col(f"p{k}").isNotNull(),
                      F.col(f"p{k}") + bsum(range(k + 1, n + 1))) \
            .otherwise(expr)
    return expr


def kn_doc_scores(
    docs: DataFrame,
    model: KNModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_tokens, sum_logp DECIMAL, avg_logp DOUBLE): ARPA
    longest-match backoff walk over the pruned KN tables — one corpus
    explode, broadcast joins only, one groupBy(doc). Decimal sums are
    order-independent (engine/oracle hash-identical)."""
    n = model.order
    cur = _positions_frame(_spread(docs), text_col, n, id_col=id_col,
                           outer=True)
    cur = _kn_join_model(cur, model)
    expr = _kn_logp_expr(model)
    cur = cur.select(
        id_col,
        F.when(F.col("w").isNull(),
               F.lit(None).cast(_LOGP_DECIMAL))  # empty doc
        .otherwise(expr).alias("logp_tok"),
    )
    out = (
        cur.groupBy(id_col)
        .agg(
            F.count("logp_tok").alias("n_tokens"),
            F.coalesce(F.sum("logp_tok"), F.lit(0))
            .cast(_SUM_DECIMAL).alias("sum_logp"),
        )
        .select(
            id_col, "n_tokens", "sum_logp",
            F.when(F.col("n_tokens") > 0,
                   F.col("sum_logp").cast("double") / F.col("n_tokens"))
            .alias("avg_logp"),
        )
    )
    out._kn_model_keepalive = model
    return out


def kn_bigram_doc_scores(
    docs: DataFrame,
    model: KNModel,
    bigram: "BigramLM",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score docs with a KN model AND a bigram stupid-backoff model
    (operators/lm.BigramLM) in ONE corpus pass: (id_col, n_tokens,
    sum_logp [bigram], avg_logp, sum_logp_kn, avg_logp_kn).

    The KN positions frame already carries the bigram scorer's whole
    context — ``prev`` is exactly ``h2`` (the one-token history) — so
    scoring both estimators costs one tokenize+explode and one
    groupBy(doc) instead of two of each plus an aggregate-aggregate
    join (guide §2.4: shared exchange; the shuffles are corpus-scale,
    the extra joins broadcast-scale). Per-position arithmetic is the
    verbatim lm_doc_scores/kn_doc_scores CASE logic and all sums are
    order-independent DECIMAL adds, so both score columns are
    bit-identical to the two-pass composition (pinned by
    test_fused_bigram_scoring_is_bit_identical)."""
    n = model.order
    cur = _positions_frame(_spread(docs), text_col, n, id_col=id_col,
                           outer=True)
    cur = _kn_join_model(cur, model)
    # bigram model tables ride the same positions frame: (h2, w) IS the
    # (prev, w) bigram key, NULL h2 IS the first-token marker
    bg = bigram.bigrams.select(
        F.col("prev").alias("h2"), "w", F.col("logp").alias("bgp"))
    cur = cur.join(F.broadcast(bg), on=["h2", "w"], how="left")
    cur = cur.join(F.broadcast(bigram.unigrams), on="w", how="left")

    kn_expr = _kn_logp_expr(model)
    oov = F.lit(bigram.logp_oov).cast(_LOGP_DECIMAL)
    bo = F.lit(bigram.backoff_logp).cast(_LOGP_DECIMAL)
    uni = F.coalesce(F.col("logp_uni"), oov)
    null_tok = F.lit(None).cast(_LOGP_DECIMAL)
    cur = cur.select(
        id_col,
        F.when(F.col("w").isNull(), null_tok)  # empty doc
        .otherwise(kn_expr).alias("logp_kn"),
        F.when(F.col("w").isNull(), null_tok)    # empty doc
        .when(F.col("bgp").isNotNull(), F.col("bgp"))  # true bigram
        .when(F.col("h2").isNull(), uni)               # first token
        .otherwise(bo + uni)                           # backoff
        .alias("logp_bg"),
    )
    out = (
        cur.groupBy(id_col)
        .agg(
            F.count("logp_bg").alias("n_tokens"),
            F.coalesce(F.sum("logp_bg"), F.lit(0))
            .cast(_SUM_DECIMAL).alias("sum_logp"),
            F.coalesce(F.sum("logp_kn"), F.lit(0))
            .cast(_SUM_DECIMAL).alias("sum_logp_kn"),
        )
        .select(
            id_col, "n_tokens", "sum_logp",
            F.when(F.col("n_tokens") > 0,
                   F.col("sum_logp").cast("double") / F.col("n_tokens"))
            .alias("avg_logp"),
            "sum_logp_kn",
            F.when(F.col("n_tokens") > 0,
                   F.col("sum_logp_kn").cast("double") / F.col("n_tokens"))
            .alias("avg_logp_kn"),
        )
    )
    out._kn_model_keepalive = model
    out._lm_model_keepalive = bigram
    return out
