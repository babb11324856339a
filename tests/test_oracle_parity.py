"""Differential tests: every oracle-backed query must match DuckDB
exactly (row count + schema + order-insensitive values) at sf0.001.

This mirrors the driver's t2 correctness gate; any failure here would
fail CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import pytest

from idr_data_pipelines_spark.queries import NO_ORACLE, ORACLES, QUERIES

from .oracle_harness import compare, duck_connection

ORACLE_KEYS = sorted(ORACLES)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(autouse=True)
def _no_lingering_streams(spark):
    """Every streaming query in the catalog is Trigger.AvailableNow
    and awaits termination, but a failed assertion mid-test can leave
    one active; a stray active stream holds the py4j callback server
    and has been observed wedging a LATER streaming test's
    foreachBatch under load. Stop leftovers after every test."""
    yield
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass


def test_registry_consistency():
    assert set(ORACLES) | NO_ORACLE == set(QUERIES)
    assert not (set(ORACLES) & NO_ORACLE)
    # NO_ORACLE has been empty since r11 — every registry entry is
    # fully oracled. Pin that instead of parameterizing a rows-only
    # test over the empty set, which reported a permanent "1 skipped"
    # that would camouflage a future REAL skip (r13 VERDICT item 1).
    # If a genuinely non-SQL-expressible entry ever lands, delete this
    # assert and restore a rows-only test parameterized over NO_ORACLE.
    assert not NO_ORACLE


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_match(name, spark, sf_dir, duck):
    _assert_parity(name, compare(QUERIES[name](spark, sf_dir), duck, ORACLES[name]))


def _assert_parity(name, res):
    assert res["rowcount_match"], f"{name}: rows {res['rows_spark']} vs {res['rows_oracle']}"
    assert res["schema_match"], f"{name}: cols {res['cols_spark']} vs {res['cols_oracle']}"
    assert res["values_match"], f"{name}: first diff {res['first_diff']}"


# Tokenizer oracles on documents with a VT (U+000B) between words and
# after a sentence stop. The engine's Java ``\s`` splits on VT; RE2's
# ``\s`` does not, so an oracle that writes ``\s`` instead of the
# spelled-out class diverges on these rows. One entry per oracle
# regex shape: the token split, the fingerprint's whitespace
# collapse, the sentence split, the BPE pre-token class, SimHash.
_VT_ENTRIES = [
    "text_token_count",
    "text_shared_ngrams",
    "text_fingerprint",
    "udtf_split_sentences",
    "text_lang_bpe",
    "dedup_simhash_md5",
]


@pytest.mark.parametrize("name", _VT_ENTRIES)
def test_oracle_match_vt_rows(name, spark, sf_dir, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in os.listdir(sf_dir):
        if f != "documents.parquet":
            os.symlink(os.path.join(sf_dir, f), tmp_path / f)
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    first = docs.slice(0, 1).to_pylist()[0]
    next_id = max(docs.column("doc_id").to_pylist()) + 1
    texts = [
        "Alpha\x0bbeta gamma delta. Epsilon zeta\x0beta theta.\x0bIota kappa",
        "Alpha beta gamma delta. Epsilon zeta eta theta. Iota kappa",
        "x\x0b\x0by z.\x0b\x0bw",
    ]
    extra = pa.Table.from_pylist(
        [
            {**first, "doc_id": next_id + i, "text": t, "n_chars": len(t)}
            for i, t in enumerate(texts)
        ],
        schema=docs.schema,
    )
    pq.write_table(
        pa.concat_tables([docs, extra]), tmp_path / "documents.parquet"
    )
    duck = duck_connection(str(tmp_path))
    try:
        res = compare(QUERIES[name](spark, str(tmp_path)), duck, ORACLES[name])
    finally:
        duck.close()
    _assert_parity(name, res)
