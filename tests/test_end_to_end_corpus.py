"""The whole-story integration: a mixed crawl+books+papers corpus of
plain document rows runs through curate_corpus with EVERY r11 gate
enabled (normalize, URL dedup, domain blocklist, word blocklist,
heuristic + trained quality, substring dedup) into splits and the audit
report — one test proving the tiers compose."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)

_PROSE = ("this is a perfectly ordinary paragraph of prose with the "
          "usual common stopwords that real writing always has in it "
          "and it is long enough to pass the quality gates easily ")


def test_crawl_books_papers_to_curated_splits(spark):
    from apache_pinot_spark.operators.pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from apache_pinot_spark.operators.quality_clf import QualityModel
    from apache_pinot_spark.operators.report import corpus_report
    from apache_pinot_spark.session import local_frame

    # --- crawl tier: 4 pages, one duplicate-URL variant, one blocked
    # domain, one banned word; source is the URL host. Books and papers:
    # document rows without a URL.
    corpus = local_frame(spark, [
        (doc_id, _PROSE + marker, "en", source, len(_PROSE + marker), url)
        for doc_id, marker, source, url in (
            (1, "alpha", "good.example.com",
             "http://good.example.com/a?utm_source=x"),
            (2, "alpha", "good.example.com",
             "http://good.example.com/a"),  # URL dup
            (3, "gamma", "spam.blocked.example",
             "http://spam.blocked.example/z"),  # blocked
            (4, "casinoword", "good.example.com",
             "http://good.example.com/b"),  # banned
            (5, "delta", "good.example.com", "http://good.example.com/c"),
            (990, "epsilon book", "books.example", None),
            (991, "zeta paper", "arxiv.example", None))
    ], "doc_id bigint, text string, lang string, source string, "
       "n_chars bigint, url string")

    # --- every r11 gate on
    import hashlib

    junk_bucket = hashlib.md5(b"junkmarker").hexdigest()[:3]
    cfg = CurationConfig(
        normalize_unicode=True,
        url_dedup=True, block_domains=True, block_words=True,
        min_model_prob=0.4,
        exact_dedup=True, boilerplate=False, quality_filter=True,
        redact_pii=False, substring_dedup=True,
        substring_window_tokens=12, near_dedup=False, decontaminate=False,
    )
    stages = curate_corpus(
        corpus, cfg,
        blocked_domains=local_frame(spark, [("blocked.example",)],
                                    "domain string"),
        word_blocklist=local_frame(spark, [("casinoword",)], "word string"),
        quality_model=QualityModel(weights={junk_bucket: -400.0}, bias=2.0),
    )
    names = list(stages)
    assert names[:3] == ["input", "url_dedup", "domain_blocklist"]
    assert names.index("normalize") < names.index("exact_dedup")
    final = stages["splits"]
    rows = final.collect()
    # survivors: one of the URL-dup pair, delta, book, paper — the
    # blocked domain and banned word are gone
    markers = {("alpha" in r.text, "delta" in r.text,
                "epsilon" in r.text, "zeta" in r.text) for r in rows}
    texts = " || ".join(r.text for r in rows)
    assert "gamma" not in texts and "casinoword" not in texts
    assert "alpha" in texts and "delta" in texts
    assert "epsilon book" in texts and "zeta paper" in texts
    assert len(rows) == 4
    assert all(r.split in ("train", "val", "test") for r in rows)
    # substring dedup excised the shared _PROSE run from non-canonical
    # docs: it survives in at most one document
    assert sum(1 for r in rows if "ordinary paragraph" in r.text) <= 1

    # --- the data card closes the loop
    rep = corpus_report(final, top_k=5)
    assert rep["n_docs"] == 4 and rep["duplicate_text_rate"] == 0.0
    assert dict(rep["sources"]).keys() >= {"good.example.com"}


def test_wiki_and_code_mixture_through_recipes(spark):
    """r12 tiers composing: a wiki corpus and a code corpus each run
    their published recipe, then union into one mixture with splits and
    a data card — the multi-source pretraining-mix story."""
    from apache_pinot_spark.operators.pipeline import curate_corpus
    from apache_pinot_spark.operators.recipes import (
        gopher_config,
        the_stack_code_config,
    )
    from apache_pinot_spark.operators.report import corpus_report
    from apache_pinot_spark.session import local_frame

    # --- wiki tier: 6 near-identical de-markup'd articles
    body = ("Subject is a topic in science and the study of it "
            "has a long history with many results that are described "
            "in detail here for the reader to enjoy at length. " * 3)
    wiki = local_frame(
        spark,
        [(i + 1, body + f"Variant number {i}.", "wikipedia")
         for i in range(6)],
        "doc_id bigint, text string, source string")
    wiki_stages = curate_corpus(
        wiki, gopher_config(gopher_overrides={"min_words": 20},
                            decontaminate=False,
                            near_threshold=0.95))
    wiki_out = wiki_stages["splits"].select("doc_id", "text", "source",
                                            "split")
    assert wiki_out.count() >= 1

    # --- code tier: 4 files, one autogen, one minified
    code_rows = [
        (1001, "# module one\n"
               "def useful_function(input_value):\n"
               "    # explain the step\n"
               "    return input_value + 1\n", "repo"),
        (1002, "// Auto-Generated. DO NOT EDIT\nint x = 1;\n", "repo"),
        (1003, "var a=1;" * 400 + "\n", "repo"),  # one huge line
        (1004, "-- query helper\nSELECT column_name FROM table_name "
               "WHERE other_column IS NOT NULL\n", "repo"),
    ]
    code = local_frame(spark, code_rows,
                       "doc_id bigint, text string, source string")
    code_stages = curate_corpus(code, the_stack_code_config(near_dedup=False))
    code_out = code_stages["splits"].select("doc_id", "text", "source",
                                            "split")
    kept_code = sorted(r.doc_id for r in code_out.collect())
    assert kept_code == [1001, 1004]  # autogen + long-line dropped

    # --- the mixture
    mix = wiki_out.unionByName(code_out)
    rep = corpus_report(mix.drop("split"), top_k=5)
    assert rep["n_docs"] == mix.count()
    assert dict(rep["sources"]).keys() >= {"wikipedia", "repo"}
