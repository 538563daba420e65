"""Driver-gate query for the end-to-end curation pipeline
(operators/pipeline.curate_corpus): staged row accounting — per-stage
survivor counts plus final split sizes — with a DuckDB oracle that
replays every enabled stage in SQL.

Gate configuration (chosen so each stage is exactly replayable):
  * exact dedup           — min-doc_id survivor per md5(text) group
  * quality + language    — the tx_quality_lang_eval arithmetic (both
                            facets independently gate-green)
  * PII redaction (r11)   — redact_expr over the RE2-portable category
                            subset (redaction.PORTABLE_CATEGORIES; the
                            phone pattern's lookarounds have no RE2
                            form), replayed as the identical DuckDB
                            regexp_replace chain with the 'g' flag —
                            row-preserving, but the rewritten text
                            feeds every downstream shingle/gram
  * source cap (r10)      — cap_source_share portable mode: the greatest
                            fixed point N* of
                            sum_s min(count_s, floor(share*N*)) = N*
                            (replayed as max{n : f(n) >= n} over a range
                            scan), then the lowest-md5(doc_id||salt)
                            rows win within each capped source
  * near-dup dedup        — the dedup_jaccard_verified md5-portable
                            LSH + Jaccard pipeline, then connected
                            components (min-label) via a recursive CTE,
                            keep-canonical survivors
  * splits                — portable md5-prefix bucket assignment
                            (operators/chunking.assign_splits
                            portable=True; thresholds shared literals)
  * decontamination      — benchmark = the doc_id < 5 documents;
                            8-gram overlap fraction vs the benchmark's
                            distinct gram set, drop above 0.1 (replayed
                            with plain string grams — the engine's
                            xxhash64 join key is an internal detail)
Boilerplate removal keeps its own dedicated slot
(curation_boilerplate_removal).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_pinot_spark.catalog import load_tables
from apache_pinot_spark.functions.text import DEFAULT_STOP_WORDS
from apache_pinot_spark.operators import textanalysis as tx
from apache_pinot_spark.operators.chunking import portable_split_threshold
from apache_pinot_spark.operators.redaction import redact_oracle_sql
from apache_pinot_spark.querysuite import df_query

_SPLITS = {"train": 0.98, "val": 0.01, "test": 0.01}
_SALT = "v1"
_NEAR_THRESHOLD = 0.02
# binds at every SF: post-quality source shares run ~3.7-6.4% over 20
# sources, so 5.5% caps the heavy sources without collapsing the corpus
_MAX_SOURCE_SHARE = 0.055


def _stage_accounting(spark: SparkSession, sf_dir: str):
    from apache_pinot_spark.operators.pipeline import (
        CurationConfig,
        curate_corpus,
    )

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "text", "source"
    )
    from apache_pinot_spark.operators.redaction import PORTABLE_CATEGORIES

    cfg = CurationConfig(
        boilerplate=False,
        redact_pii=True,
        pii_categories=PORTABLE_CATEGORIES,
        near_num_hashes=4,
        near_band_size=2,
        near_shingle_n=3,
        near_threshold=_NEAR_THRESHOLD,
        max_source_share=_MAX_SOURCE_SHARE,
        decontaminate=True,
        contamination_n=8,
        max_contamination=0.1,
        splits=dict(_SPLITS),
        split_salt=_SALT,
        split_portable=True,
        # the quality stage feeds the source-cap window AND the downstream
        # counts; source_cap/near_dedup/decontamination outputs are
        # re-read by every later stage count (window rank, anti-join and
        # 8-gram explode chains otherwise re-derive per action). All four
        # caches are slim survivor frames. r10 interleaved A/B at sf0.1:
        # this set 5.70 s median vs 6.36 (+exact_dedup instead of
        # source_cap) and 7.1-8.3 (without source_cap cached) — caching
        # exact_dedup persists full corpus text whose write outweighs its
        # one reuse.
        cache_stages=("quality_language", "source_cap", "near_dedup",
                      "decontamination"),
        # r14: `source` is spent after the cap — keep it out of the
        # downstream cached frames and the near-dedup/decon subtrees
        drop_spent_columns=True,
    )
    benchmark = docs.filter(F.col("doc_id") < 5)
    stages = curate_corpus(docs, cfg, benchmark=benchmark)
    parts = []
    frames = list(stages.values())
    for i, (name, df) in enumerate(stages.items()):
        if name == "exact_dedup":
            # r14 (guide §2.4): the exact-dedup stage is the one uncached
            # accounting row whose count re-ran the full groupBy+join
            # survivor selection per action. Its row count has a closed
            # form — dedupe_exact keeps exactly one row per non-sentinel
            # fingerprint group (keys are unique) plus every sentinel
            # (NULL-text) row — so ONE map-side aggregate over the
            # stage's own input scan replaces the corpus-scale
            # shuffle+join. Pinned identical by
            # test_exact_dedup_count_identity; the stage FRAME (which
            # downstream stages consume) is unchanged. curate_corpus
            # puts "input" first and records only enabled stages, so the
            # previous entry is exactly what dedupe_exact consumed.
            from apache_pinot_spark.operators.dedup import (
                NULL_FINGERPRINT,
                fingerprint_expr,
            )

            fp = fingerprint_expr("text", None)
            parts.append(
                frames[i - 1].agg(
                    (F.count_distinct(
                        F.when(fp != F.lit(NULL_FINGERPRINT), fp))
                     + F.coalesce(
                         F.sum(F.when(fp == F.lit(NULL_FINGERPRINT), 1)),
                         F.lit(0))).alias("rows")
                ).select(
                    F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"),
                    "rows",
                )
            )
            continue
        parts.append(
            df.agg(F.count(F.lit(1)).alias("rows")).select(
                F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"), "rows"
            )
        )
    split_sizes = (
        stages["splits"]
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.lit(len(stages)).alias("stage_idx"),
            F.concat(F.lit("split_"), F.col("split")).alias("stage"),
            "rows",
        )
    )
    out = reduce(DataFrame.unionByName, parts).unionByName(split_sizes).orderBy(
        "stage_idx", "stage"
    )
    # the lazy counts reference the near-dedup stage's localCheckpointed
    # CC labels; tie their lifetime to the frame the driver holds
    out._curation_artifacts_keepalive = stages
    return out


_STOP_SQL = ",".join("'" + w + "'" for w in sorted(DEFAULT_STOP_WORDS))
_WS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_WS_L = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"


def _marker(lang: str) -> str:
    markers = ",".join("'" + m + "'" for m in tx.LANG_MARKERS[lang])
    return f"len(list_filter({_WS_L}, x -> x IN ({markers})))"


# MinHash/LSH fragments over the quality-filtered corpus `q` — the same
# md5-portable construction the (independently green) dedup_jaccard_verified
# oracle uses over raw documents: hash i = 8-hex slice (i%4) of
# md5('(i//4)|' || shingle); band b = md5(mh[2b] || '|' || mh[2b+1]).
# 4 hashes / 2 bands here: this slot audits the staged COMPOSITION — LSH
# recall depth is dedup_jaccard_verified's own (8-hash) gate.
_MH = ",\n         ".join(
    f"list_min(list_transform(sh, x -> substr(md5('{i // 4}|' || x), {8 * (i % 4) + 1}, 8))) AS mh{i}"
    for i in range(4)
)
_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(mh{2 * b} || '|' || mh{2 * b + 1}) AS band_hash FROM sig"
    for b in range(2)
)

_T_TRAIN_HI = portable_split_threshold(980)
_T_VAL_HI = portable_split_threshold(990)

_ORACLE = f"""
WITH RECURSIVE
ex AS (
  SELECT d.doc_id, d.text, d.source
  FROM documents d
  JOIN (SELECT md5(text) AS fp, MIN(doc_id) AS keep
        FROM documents GROUP BY 1) g
    ON md5(d.text) = g.fp AND d.doc_id = g.keep
),
feat AS (
  SELECT doc_id, text, source,
    length(text) AS n_chars_m,
    len({_WS}) AS n_tokens,
    len(list_filter({_WS_L}, x -> x IN ({_STOP_SQL}))) AS n_stop,
    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
    {_marker('de')} AS de_c, {_marker('en')} AS en_c,
    {_marker('es')} AS es_c, {_marker('fr')} AS fr_c,
    {_marker('zh')} AS zh_c
  FROM ex
),
scored AS (
  SELECT doc_id, text, source,
    greatest(least(
      50.0
      + least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 100, 25.0)
      + (CASE WHEN CAST(n_chars_m AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0)
                  BETWEEN 3 AND 12 THEN 25.0 ELSE 0.0 END)
      - least(CAST(n_digits AS DOUBLE) / greatest(CAST(n_chars_m AS DOUBLE), 1.0) * 100, 50.0)
    , 100.0), 0.0) AS q,
    CASE
      WHEN de_c >= greatest(en_c, es_c, fr_c, zh_c, 1) THEN 'de'
      WHEN en_c >= greatest(es_c, fr_c, zh_c, 1) THEN 'en'
      WHEN es_c >= greatest(fr_c, zh_c, 1) THEN 'es'
      WHEN fr_c >= greatest(zh_c, 1) THEN 'fr'
      WHEN zh_c >= 1 THEN 'zh'
      ELSE 'und' END AS guess
  FROM feat
),
q AS (SELECT doc_id, text, source FROM scored WHERE q >= 50.0 AND guess = 'en'),
-- PII redaction (row-preserving text rewrite): the same regexp_replace
-- chain as redact_expr, RE2-portable categories only, global flag
red AS (SELECT doc_id, {redact_oracle_sql('text')} AS text, source FROM q),
-- source cap (cap_source_share portable mode): greatest fixed point of
-- N = sum_s min(count_s, floor(share*N)), i.e. max n with f(n) >= n
-- (the operator's monotone-decreasing iteration from the total lands
-- exactly there); survivors are the lowest-md5(doc_id||salt) rows per
-- capped source, ties by doc_id
qc AS (SELECT source, COUNT(*) AS c FROM q GROUP BY source),
fp AS (
  SELECT MAX(t.n) AS nstar
  FROM (SELECT unnest(generate_series(0,
          (SELECT CAST(SUM(c) AS BIGINT) FROM qc))) AS n) t
  WHERE (SELECT SUM(LEAST(c, CAST(floor({_MAX_SOURCE_SHARE} * t.n) AS BIGINT)))
         FROM qc) >= t.n
),
sc AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_SALT}'), doc_id
           ) AS rk
    FROM red
  )
  WHERE rk <= (SELECT CAST(floor({_MAX_SOURCE_SHARE} * nstar) AS BIGINT) FROM fp)
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM sc
),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                        i -> array_to_string(t[i:i+2], ' ')) AS sh
  FROM toks
  WHERE len(t) >= 3
),
sig AS (
  SELECT doc_id,
         {_MH}
  FROM sh
),
bands AS (
  {_BANDS}
),
cpairs AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
shset AS (SELECT doc_id, list_distinct(sh) AS shset FROM sh),
vpairs AS (
  SELECT p.key_a, p.key_b
  FROM cpairs p
  JOIN shset a ON a.doc_id = p.key_a
  JOIN shset b ON b.doc_id = p.key_b
  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
          / len(list_distinct(a.shset || b.shset)) >= {_NEAR_THRESHOLD}
),
edges AS (
  SELECT key_a AS s, key_b AS d FROM vpairs
  UNION
  SELECT key_b AS s, key_a AS d FROM vpairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
),
comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
dropped AS (SELECT id FROM comp WHERE comp <> id),
nd AS (SELECT doc_id FROM sc WHERE doc_id NOT IN (SELECT id FROM dropped)),
bgrams AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(CASE WHEN len(t) >= 8
                  THEN list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
                  ELSE [] END) AS g
    FROM (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS t
          FROM documents WHERE doc_id < 5)
  )
),
ndg AS (
  SELECT d.doc_id,
         unnest(CASE WHEN len(k.t) >= 8
                THEN list_transform(range(1, len(k.t) - 6),
                                    i -> array_to_string(k.t[i:i+7], ' '))
                ELSE [] END) AS g
  FROM nd d JOIN toks k ON k.doc_id = d.doc_id
),
cont AS (
  SELECT d.doc_id, COUNT(g.g) AS total,
         COUNT(CASE WHEN g.g IN (SELECT g FROM bgrams) THEN 1 END) AS hits
  FROM nd d LEFT JOIN ndg g ON g.doc_id = d.doc_id
  GROUP BY d.doc_id
),
dec AS (
  SELECT doc_id FROM cont
  WHERE (CASE WHEN total > 0 THEN CAST(hits AS DOUBLE) / total
         ELSE 0.0 END) <= 0.1
),
spl AS (
  SELECT doc_id,
    CASE WHEN pfx < '{_T_TRAIN_HI}' THEN 'train'
         WHEN pfx < '{_T_VAL_HI}' THEN 'val'
         ELSE 'test' END AS split
  FROM (SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR) || '{_SALT}'), 1, 8) AS pfx
        FROM dec)
)
SELECT stage_idx, stage, rows FROM (
  SELECT 0 AS stage_idx, 'input' AS stage,
         (SELECT COUNT(*) FROM documents) AS rows
  UNION ALL
  SELECT 1, 'exact_dedup', (SELECT COUNT(*) FROM ex)
  UNION ALL
  SELECT 2, 'quality_language', (SELECT COUNT(*) FROM q)
  UNION ALL
  SELECT 3, 'pii_redaction', (SELECT COUNT(*) FROM red)
  UNION ALL
  SELECT 4, 'source_cap', (SELECT COUNT(*) FROM sc)
  UNION ALL
  SELECT 5, 'near_dedup', (SELECT COUNT(*) FROM nd)
  UNION ALL
  SELECT 6, 'decontamination', (SELECT COUNT(*) FROM dec)
  UNION ALL
  SELECT 7, 'splits', (SELECT COUNT(*) FROM dec)
  UNION ALL
  SELECT 8, 'split_' || split, COUNT(*) FROM spl GROUP BY split
)
ORDER BY stage_idx, stage
"""


df_query(
    "pipeline_stage_accounting",
    _stage_accounting,
    _ORACLE,
    tables=["documents"],
    doc="End-to-end curation pipeline (operators/pipeline.curate_corpus) "
        "staged row accounting: exact dedup, quality+language gate, "
        "RE2-portable PII redaction (r11), source-share cap (fixed-point "
        "sizing + portable hash-ranked selection), md5-portable LSH "
        "near-dup dedup with connected-components canonical survivors, "
        "benchmark 8-gram decontamination, and portable split assignment "
        "— every stage replayed in SQL (recursive CTE for the components)",
)
