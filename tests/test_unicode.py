"""Unicode-robustness differential tests.

The generated fixtures are ASCII-only, so the oracle suite never
exercises multi-byte text.  A 100 TB web corpus is mostly NOT ASCII:
these tests write a small unicode corpus (CJK, emoji, combining
accents, NBSP, mixed scripts) to parquet and assert Spark and DuckDB
still agree hash-for-hash on the text operators whose semantics could
plausibly diverge between Java and utf8proc string handling — content
md5 (UTF-8 byte identity), whitespace tokenization + lower() (Gopher
gate), and the punctuation/whitespace normalizer.

Deliberately avoided: locale-sensitive case edges the engines are
DOCUMENTED to differ on (Greek final sigma, Turkish dotted I) — those
are a known engine-boundary caveat, not a silent bug this suite should
encode either way.
"""

from __future__ import annotations

import duckdb
import pytest

from basin_cli_spark.queries import load_all
from basin_cli_spark.oracle import compare

_TEXTS = [
    "the quick café costs 素晴らしい 100 yen 🎉 to be of and that have with ",
    "naïve résumé ÉCOLE the to of and that have with über señor ",
    "中文文本没有空格分词 the be to of and that have with 日本語テキスト ",
    "mixed nbsp and\ttabs the be to of and that have with emoji 😀🚀 ",
    "çölde kömür ğüneş the be to of and that have with açık véhicule ",
]


@pytest.fixture(scope="module")
def uni_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("unicorpus")
    # lang='en' so the lang-filtered operators (q_text_fingerprint) are
    # non-vacuous; n_chars counts PYTHON codepoints, the same unit Spark
    # length()/substring() and DuckDB LENGTH()/SUBSTRING use
    rows = [
        (i, t * 8, "en", f"src{i % 2}", len(t * 8))
        for i, t in enumerate(_TEXTS)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_exact",          # md5 over UTF-8 bytes
        "q_corpus_gopher_rules",  # lower() + whitespace split + counts
        "q_text_normalize",       # \p{Punct}-vs-[[:punct:]] + whitespace
        "q_text_token_count",     # tokenization length accounting
        "q_corpus_mad_prune",     # numeric gate unaffected by text bytes
        # text operators over multi-byte text: per-CHARACTER splitting
        # (emoji are supplementary codepoints: Java regex . vs utf8proc
        # chars), shingle folds, md5-nibble hashing through vec_str, and
        # the segment rewrite
        "q_text_entropy",         # (?s:.) char split vs SUBSTRING loop
        "q_text_repetition",      # 3-gram shingle folds on unicode tokens
        "q_corpus_dup_ngram_stats",  # 4 gram-size folds in one pass
        "q_text_hash_embedding",  # md5-nibble dims + vec_str stringify
        "q_corpus_boilerplate_scrub",  # segmentation + rewrite join
        "q_text_bigram_logprob",  # bigram LM over unicode tokens
        "q_text_pii_scrub",       # regex redaction over unicode text
        "q_text_quality_score",   # punct/stopword/length feature probe
        "q_vocab_oov_rate",       # top-500 vocab + membership scan
        "q_chunk_documents",      # substring windows in CODEPOINT units
        "q_text_fingerprint",     # [^a-z ]-strip + rolling hash (lang=en)
    ],
)
def test_unicode_corpus_differential(spark, uni_dir, name):
    spec = load_all()[name]
    con = duckdb.connect()
    # Spark writes a directory of part files; DuckDB needs the glob
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{uni_dir}/documents.parquet/*.parquet')"
    )
    ok, msg = compare(spec.fn(spark, uni_dir), con.execute(spec.oracle).arrow())
    assert ok, f"{name} diverges on unicode corpus: {msg}"
