"""Driver-gate query for the r11 crawl-side curation gates
(operators/urls.url_dedup, textanalysis.normalize_corpus,
curation.blocklist_filter, textanalysis.gopher_quality_expr,
substring_dedup.dedup_exact_substrings) — the r11 wave shipped these
default-off and pytest-only; this slot runs them as ONE staged
curate_corpus flow with a DuckDB oracle replaying every stage
(the r12 verdict's top ask).

Accounting is (stage_idx, stage, rows, chars): ``chars`` =
sum(length(text)) per stage, which makes the row-PRESERVING rewrite
stages (normalize, substring excision) genuinely hash-gated — a stale
or wrong rewrite shifts the char totals even when row counts agree.

Gate inputs are synthesized deterministically from the documents table
so every stage has real work at any SF (both engines build them from
the same literals):
  * a crawl URL per doc — mixed-case scheme/host, www prefix, default
    port, utm_ param, unsorted params, fragment — whose adjusted id
    (doc_id-1 when doc_id%13=0) makes ~7.7%% of docs collide after
    canonicalization, at EVERY scale factor (a modulus key space would
    collapse the corpus at sf0.1)
  * zero-width/BOM/soft-hyphen prefix noise on doc_id%7=3 and an NFD
    composed-accent tail on doc_id%11=5 — normalize must strip/compose
    exactly (chars accounting pins it)
  * word blocklist = ('vector',) with the fraction gate at 0.05
  * Gopher composite with the paper thresholds, min_words=30 override
    (synthetic docs run 10-100 words)
  * exact-substring dedup at window_tokens=15 — the planted near-dup
    documents share long token runs, so real spans are excised; the
    oracle replays the stride-1 window construction with character
    offsets derived from the token/separator split (fully general — no
    single-space assumption), keeper = min (doc_id, win_idx) per
    duplicated window, merged-island span arithmetic in SQL

The engine signature is a 64-bit rolling polynomial; the oracle keys
windows by the literal token string (space-joined, injective) — a
signature collision would diverge the two, at ~2^-64 per window pair.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_pinot_spark.catalog import load_tables
from apache_pinot_spark.operators.chunking import portable_split_threshold
from apache_pinot_spark.operators.qclf_frozen import (
    FROZEN_BIAS as _FROZEN_BIAS,
    FROZEN_MIN_PROB as _FROZEN_MIN_PROB,
    frozen_quality_model,
    marker_tail_sql as _marker_tail_sql,
    weights_values_sql as _qclf_weights_sql,
)
from apache_pinot_spark.operators.textanalysis import gopher_quality_oracle_sql
from apache_pinot_spark.operators.urls import canonical_url_oracle_sql
from apache_pinot_spark.querysuite import df_query
from apache_pinot_spark.session import local_frame

_SALT = "v1"
_SPLITS = {"train": 0.98, "val": 0.01, "test": 0.01}
#: UT1-style blocklist entries — registrable domains, so the suffix
#: semantics (www./deep.a. variants also drop) do real work
_BLOCKED_DOMAINS = ("src3.example.org", "src7.example.org")
_WINDOW_TOKENS = 15
_MAX_BAD_FRAC = 0.05
_MIN_WORDS = 30
# normalize-stage probes: all-stripped zero-width prefix; NFD tail that
# composes to "\nCafé idea" (combining acute + trailing ZWSP removed)
_ZW_PREFIX = "\ufeff\u200b\u00ad"
_NFD_TAIL = "\nCafe\u0301 idea\u200b"
# the same literals as DuckDB expressions (chr() so the SQL text stays
# ASCII-clean and the newline survives any literal handling)
_ZW_PREFIX_SQL = "(chr(65279) || chr(8203) || chr(173))"
_NFD_TAIL_SQL = "(chr(10) || 'Cafe' || chr(769) || ' idea' || chr(8203))"


def _synth_inputs(docs: DataFrame) -> DataFrame:
    aid = (
        F.col("doc_id")
        - F.when((F.col("doc_id") % 13 == 0) & (F.col("doc_id") > 0), 1)
        .otherwise(0)
    ).cast("bigint")
    url = F.concat(
        F.lit("HTTPS://www.corpus.Example.COM:443/doc/"), aid.cast("string"),
        F.lit("?utm_source=feed&b="), (aid % 5).cast("string"),
        F.lit("&a=1#frag"),
    )
    noise = F.when(F.col("doc_id") % 7 == 3, F.lit(_ZW_PREFIX)).otherwise(F.lit(""))
    tail = F.when(F.col("doc_id") % 11 == 5, F.lit(_NFD_TAIL)).otherwise(F.lit(""))
    # per-doc crawl host with varying subdomain DEPTH, so the domain
    # blocklist's registrable-suffix semantics (blocking srcK.example.org
    # blocks deep.a.srcK.example.org too) carry real weight
    host = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
        .when(F.col("doc_id") % 3 == 1, F.lit("deep.a."))
        .otherwise(F.lit("")),
        F.col("source"), F.lit(".example.org"),
    )
    # r13: every doc also carries a deterministic quality-marker tail
    # (spam phrases on doc_id%3=0, reference phrases otherwise) — the
    # frozen model-quality classifier's gate signal, appended LAST so
    # the earlier stages see it too (their oracles replay it)
    from apache_pinot_spark.operators.qclf_frozen import marker_tail_expr

    return docs.withColumn("url", url).withColumn("host", host).withColumn(
        "text", F.concat(noise, F.col("text"), tail, F.lit(" "),
                         marker_tail_expr(F.col("doc_id"))))


def _gates_accounting(spark: SparkSession, sf_dir: str):
    from apache_pinot_spark.operators.pipeline import (
        CurationConfig,
        curate_corpus,
    )

    docs = _synth_inputs(
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id", "text", "source"))
    # `source` is spent once _synth_inputs derived `host` from it —
    # nothing downstream reads it; keep it out of every checkpointed
    # stage frame and the normalize Arrow pass (r14, guide §5/§6)
    docs = docs.drop("source")
    bl = local_frame(spark, [("vector",)], "word string")
    blocked = local_frame(
        spark, [(d,) for d in _BLOCKED_DOMAINS], "domain string")
    cfg = CurationConfig(
        url_dedup=True,
        block_domains=True,
        source_col="host",
        normalize_unicode=True,
        exact_dedup=False,
        boilerplate=False,
        block_words=True,
        max_bad_frac=_MAX_BAD_FRAC,
        quality_filter=False,
        gopher_quality=True,
        gopher_overrides={"min_words": _MIN_WORDS},
        # r13: the frozen model-quality gate (operators/qclf_frozen) —
        # the 7th r11 gate, now oracle-replayed: margins cluster ~0.03+
        # away from the threshold by corpus construction, so the
        # decision survives cross-engine float-summation drift
        min_model_prob=_FROZEN_MIN_PROB,
        redact_pii=False,
        near_dedup=False,
        substring_dedup=True,
        substring_window_tokens=_WINDOW_TOKENS,
        decontaminate=False,
        splits=dict(_SPLITS),
        split_salt=_SALT,
        split_portable=True,
        # every stage count re-derives its prefix chain; with all five
        # mid-stages materialized each count is (previous stage + one
        # stage) instead of an O(stages²) recompute stack. checkpoint
        # mode (lineage truncation) rather than persist: this query
        # builds ~10 sibling aggregate plans over the stages, and
        # re-optimizing the large canonicalizer/Gopher expression trees
        # per subtree dominated the persist-mode wall time (measured
        # 2-3×)
        cache_stages=("url_dedup", "normalize", "word_blocklist",
                      "gopher_quality", "model_quality",
                      "substring_dedup"),
        cache_mode="checkpoint",
        # r14 (guide §5/§6): url/host are spent after their gate —
        # without this every checkpointed stage frame and the normalize
        # Arrow pass carries them unread (corpus-scale bytes at 100 TB)
        drop_spent_columns=True,
    )
    stages = curate_corpus(docs, cfg, word_blocklist=bl,
                           blocked_domains=blocked,
                           quality_model=frozen_quality_model())
    parts = []
    for i, (name, df) in enumerate(stages.items()):
        if name == "splits":
            continue  # folded into the rollup below
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum(F.length("text")), F.lit(0))
                .cast("bigint").alias("chars"),
            ).select(
                F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"),
                "rows", "chars",
            )
        )
    # ONE rollup over the splits frame yields the splits-stage total AND
    # the three per-split rows (one subtree instead of four)
    n_stages = len(stages)
    split_sizes = (
        stages["splits"]
        .rollup("split")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.length("text")), F.lit(0))
            .cast("bigint").alias("chars"),
        )
        .select(
            F.when(F.col("split").isNull(), F.lit(n_stages - 1))
            .otherwise(F.lit(n_stages)).alias("stage_idx"),
            F.when(F.col("split").isNull(), F.lit("splits"))
            .otherwise(F.concat(F.lit("split_"), F.col("split")))
            .alias("stage"),
            "rows", "chars",
        )
    )
    out = reduce(DataFrame.unionByName, parts).unionByName(split_sizes) \
        .orderBy("stage_idx", "stage")
    out._curation_artifacts_keepalive = stages
    return out


_W = _WINDOW_TOKENS
_T_TRAIN_HI = portable_split_threshold(980)
_T_VAL_HI = portable_split_threshold(990)

# normalize replay: NFC, newline canonicalization, zero-width/format
# strip, Cc strip (keep \n \t) — the exact normalize_corpus chain
_NORM = (
    "regexp_replace(regexp_replace(replace(replace(nfc_normalize(text), "
    "chr(13) || chr(10), chr(10)), chr(13), chr(10)), "
    "'[\\x{200b}\\x{200c}\\x{200d}\\x{2060}\\x{feff}\\x{00ad}"
    "\\x{202a}-\\x{202e}\\x{2066}-\\x{2069}]', "
    "'', 'g'), "
    "'[\\x00-\\x08\\x0b-\\x0c\\x0e-\\x1f\\x7f]|[\\x{0080}-\\x{009f}]', "
    "'', 'g')"
)

_LTOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

_BLOCKED_SQL = " OR ".join(
    f"(host = '{d}' OR host LIKE '%.{d}')" for d in _BLOCKED_DOMAINS)

_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         (CASE WHEN doc_id % 7 = 3 THEN {_ZW_PREFIX_SQL} ELSE '' END)
           || text
           || (CASE WHEN doc_id % 11 = 5 THEN {_NFD_TAIL_SQL} ELSE '' END)
           || ' ' || {_marker_tail_sql('doc_id')}
           AS text,
         'HTTPS://www.corpus.Example.COM:443/doc/' || CAST(aid AS VARCHAR)
           || '?utm_source=feed&b=' || CAST(aid % 5 AS VARCHAR)
           || '&a=1#frag' AS url,
         (CASE WHEN doc_id % 3 = 0 THEN 'www.'
               WHEN doc_id % 3 = 1 THEN 'deep.a.'
               ELSE '' END) || source || '.example.org' AS host
  FROM (SELECT *, doc_id - (CASE WHEN doc_id % 13 = 0 AND doc_id > 0
                            THEN 1 ELSE 0 END) AS aid
        FROM documents)
),
canon AS (SELECT *, {canonical_url_oracle_sql('url')} AS cu FROM base),
u AS (
  SELECT doc_id, text, source, host FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY coalesce(cu, chr(0) || 'null:' || CAST(doc_id AS VARCHAR))
      ORDER BY doc_id) AS rn
    FROM canon)
  WHERE rn = 1
),
-- UT1 domain gate: a host is blocked when it EQUALS a blocklist entry
-- or ends with '.' || entry — exactly the registrable-suffix semantics
-- of host_suffixes_expr (the full host is always a candidate)
db AS (
  SELECT doc_id, text, source FROM u
  WHERE NOT ({_BLOCKED_SQL})
),
norm AS (SELECT doc_id, source, {_NORM} AS text FROM db),
wstats AS (
  SELECT doc_id,
         len({_LTOKS}) AS total,
         len(list_filter({_LTOKS}, x -> x = 'vector')) AS bad
  FROM norm
),
wg AS (
  SELECT n.* FROM norm n JOIN wstats s USING (doc_id)
  WHERE (CASE WHEN s.total > 0 THEN CAST(s.bad AS DOUBLE) / s.total
         ELSE 0.0 END) <= {_MAX_BAD_FRAC}
),
gop AS (
  SELECT * FROM wg
  WHERE {gopher_quality_oracle_sql('text', min_words=_MIN_WORDS)}
),
-- r13: frozen model-quality gate (operators/qclf_frozen): hashed
-- 1..2-gram tf features, broadcast weight table, logistic margin.
-- Float sums run in a different order than the engine's, but the
-- corpus construction keeps every margin >= ~0.03 from the decision
-- threshold, so the comparison is drift-proof. (Zero-gram docs can't
-- reach here: the Gopher gate already requires >= {_MIN_WORDS} words.)
qg AS (
  SELECT doc_id, substr(md5(g), 1, 3) AS bucket FROM (
    SELECT doc_id, unnest(t) AS g
    FROM (SELECT doc_id, {_LTOKS} AS t FROM gop)
    UNION ALL
    SELECT doc_id, t[i] || ' ' || t[i+1] AS g
    FROM (SELECT doc_id, {_LTOKS} AS t FROM gop) g2,
      LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0)))
               AS i) s
  )
),
qtf AS (SELECT doc_id, bucket, count(*) AS c FROM qg GROUP BY 1, 2),
qlen AS (SELECT doc_id, sum(c) AS L FROM qtf GROUP BY 1),
qw(bucket, w) AS (VALUES {_qclf_weights_sql()}),
qm AS (
  SELECT f.doc_id,
         {_FROZEN_BIAS} + coalesce(
           sum((CAST(f.c AS DOUBLE) / l.L) * w.w), 0) AS margin
  FROM qtf f JOIN qlen l USING (doc_id)
  LEFT JOIN qw w ON w.bucket = f.bucket
  GROUP BY f.doc_id
),
mq AS (
  SELECT g.* FROM gop g JOIN qm ON qm.doc_id = g.doc_id
  WHERE 1.0 / (1.0 + exp(-qm.margin)) >= {_FROZEN_MIN_PROB}
),
toks AS (
  SELECT doc_id,
         regexp_extract_all(text, '[0-9A-Za-z]+') AS tk,
         regexp_split_to_array(text, '[0-9A-Za-z]+') AS sep,
         length(text) AS n_chars0
  FROM mq
),
wins AS (
  SELECT doc_id, i - 1 AS win_idx,
         array_to_string(list_transform(tk[i:i+{_W - 1}], t -> lower(t)), ' ')
           AS sig,
         coalesce(length(array_to_string(sep[1:i], '')), 0)
           + coalesce(length(array_to_string(tk[1:i-1], '')), 0) AS start_c,
         coalesce(length(array_to_string(sep[1:i+{_W - 1}], '')), 0)
           + coalesce(length(array_to_string(tk[1:i+{_W - 2}], '')), 0)
           + length(tk[i+{_W - 1}]) AS end_c
  FROM toks, LATERAL (
    SELECT unnest(range(1, greatest(len(tk) - {_W} + 1, 0) + 1)) AS i) s
),
occ AS (
  SELECT doc_id, win_idx, start_c, end_c,
         COUNT(*) OVER (PARTITION BY sig) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id, win_idx) AS rk
  FROM wins
),
cuts AS (SELECT doc_id, start_c, end_c FROM occ WHERE n_occ >= 2 AND rk > 1),
ord_c AS (
  SELECT *, MAX(end_c) OVER (
    PARTITION BY doc_id ORDER BY start_c, end_c
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM cuts
),
isl AS (
  SELECT *, SUM(CASE WHEN prev_max IS NULL OR start_c > prev_max
                THEN 1 ELSE 0 END) OVER (
    PARTITION BY doc_id ORDER BY start_c, end_c
    ROWS UNBOUNDED PRECEDING) AS island
  FROM ord_c
),
mg AS (SELECT doc_id, island, MIN(start_c) AS a, MAX(end_c) AS b
       FROM isl GROUP BY doc_id, island),
rem AS (SELECT doc_id, SUM(b - a) AS removed FROM mg GROUP BY doc_id),
sd AS (
  SELECT t.doc_id, t.n_chars0 - coalesce(r.removed, 0) AS n_chars1
  FROM toks t LEFT JOIN rem r USING (doc_id)
),
spl AS (
  SELECT doc_id, n_chars1,
    CASE WHEN pfx < '{_T_TRAIN_HI}' THEN 'train'
         WHEN pfx < '{_T_VAL_HI}' THEN 'val'
         ELSE 'test' END AS split
  FROM (SELECT doc_id, n_chars1,
               substr(md5(CAST(doc_id AS VARCHAR) || '{_SALT}'), 1, 8) AS pfx
        FROM sd)
)
SELECT stage_idx, stage, rows, chars FROM (
  SELECT 0 AS stage_idx, 'input' AS stage, COUNT(*) AS rows,
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) AS chars FROM base
  UNION ALL
  SELECT 1, 'url_dedup', COUNT(*),
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) FROM u
  UNION ALL
  SELECT 2, 'domain_blocklist', COUNT(*),
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) FROM db
  UNION ALL
  SELECT 3, 'normalize', COUNT(*),
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) FROM norm
  UNION ALL
  SELECT 4, 'word_blocklist', COUNT(*),
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) FROM wg
  UNION ALL
  SELECT 5, 'gopher_quality', COUNT(*),
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) FROM gop
  UNION ALL
  SELECT 6, 'model_quality', COUNT(*),
         CAST(coalesce(SUM(length(text)), 0) AS BIGINT) FROM mq
  UNION ALL
  SELECT 7, 'substring_dedup', COUNT(*),
         CAST(coalesce(SUM(n_chars1), 0) AS BIGINT) FROM sd
  UNION ALL
  SELECT 8, 'splits', COUNT(*),
         CAST(coalesce(SUM(n_chars1), 0) AS BIGINT) FROM sd
  UNION ALL
  SELECT 9, 'split_' || split, COUNT(*),
         CAST(coalesce(SUM(n_chars1), 0) AS BIGINT) FROM spl GROUP BY split
)
ORDER BY stage_idx, stage
"""


df_query(
    "curation_gates_accounting",
    _gates_accounting,
    _ORACLE,
    tables=["documents"],
    doc="r11 curation gates as one staged curate_corpus flow with "
        "rows+chars accounting: URL canonicalization dedup (full "
        "canonicalizer replayed in SQL), UT1 domain blocklist "
        "(registrable-suffix semantics over varying-depth hosts), "
        "Unicode normalization (NFC + zero-width/control strip, "
        "char-exact), C4-style word-blocklist fraction gate, the "
        "Gopher/MassiveText composite (all 11 rules replayed), the "
        "FROZEN model-quality classifier (r13: hashed-gram logistic "
        "margins replayed against the shipped weight literals — the "
        "7th r11 gate, closing the verdict's escape hatch), and "
        "Lee-et-al exact-substring dedup (stride-1 window spans, keeper "
        "selection, merged-island excision arithmetic — char-exact), "
        "then portable split assignment",
)
