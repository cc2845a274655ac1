"""Mirror of the driver's correctness gate: every ``queries()`` entry with an
``oracle_sql()`` twin must match DuckDB on row count, schema width and
(order-insensitive) values. Runs at sf0.001 to stay fast; the driver runs
the same comparison at sf0.01."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = os.environ.get("ENTRY_TEST_SF", "/root/testdata/sf0.001")
# data-dependent oracle literals (bpe_tokens' merge table) must train on
# the same SF this harness compares at; the driver's gate leaves the env
# unset and gets the sf0.01 default inside _bpe_oracle()
os.environ["ENTRY_TEST_SF"] = SF_DIR
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{val:.9g}"
    if hasattr(val, "isoformat"):
        return val.isoformat()
    return str(val)


def _rows(df_pandas):
    cols = sorted(df_pandas.columns)
    return sorted(tuple(_canon(r[c]) for c in cols) for _, r in df_pandas.iterrows())


# the driver checks queries()/oracle_sql(); the retired demos in
# extra_queries()/extra_oracle_sql() keep full parity coverage here
ORACLES = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
ALL_QUERIES = {**entry.queries(), **entry.extra_queries()}


def test_every_oracle_key_has_a_query():
    assert set(entry.oracle_sql()) <= set(entry.queries())
    assert set(entry.extra_oracle_sql()) <= set(entry.extra_queries())


def test_driver_window_holds_every_registered_query():
    # the driver's correctness window is 50 entries: anything past it gets
    # no row (round-2 verdict #1) — the registry must never outgrow it
    assert len(entry.queries()) <= 50
    assert not set(entry.queries()) & set(entry.extra_queries())


def test_no_orphaned_oracles():
    # every oracle must belong to SOME registry, or its parity test
    # silently disappears (a query once retired from queries() without
    # landing in extra_queries() shipped with zero verification)
    orphans = set(entry._all_oracles()) - set(entry.queries()) - set(
        entry.extra_queries()
    )
    assert not orphans, f"oracles with no registered query: {sorted(orphans)}"


def test_every_extra_is_oracle_checked():
    # a retired demo that only "runs" verifies nothing: every entry of
    # either registry must have a DuckDB twin in test_query_matches_oracle
    assert set(entry.extra_queries()) == set(entry.extra_oracle_sql())
    assert set(entry.queries()) == set(entry.oracle_sql())


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    q = ALL_QUERIES[name]
    got = q(spark, SF_DIR).toPandas()
    exp = duck.execute(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(c.lower() for c in exp.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    exp.columns = [c.lower() for c in exp.columns]
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    # dtype-kind parity: the driver hashes *typed* values, so an int column
    # on one side and a float/object column on the other (e.g. DuckDB
    # HUGEINT from an uncast integer SUM) is a hash mismatch even when the
    # stringified values agree — catch it locally
    if len(got):
        norm = {"u": "i"}
        for c in got.columns:
            gk = norm.get(got[c].dtype.kind, got[c].dtype.kind)
            ek = norm.get(exp[c].dtype.kind, exp[c].dtype.kind)
            assert gk == ek, (
                f"{name}.{c}: dtype kind {got[c].dtype} (spark) vs {exp[c].dtype} (oracle)"
            )
    g, e = _rows(got), _rows(exp)
    mism = [i for i, (a, b) in enumerate(zip(g, e)) if a != b][:5]
    assert g == e, f"{name}: first diffs {[(g[i], e[i]) for i in mism]}"


# the sf corpora are all-lowercase, which would mask case-sensitivity skew
# between Spark tokenization and the oracles' lower(trim(text)) — pin the
# mixed-case behavior on a tiny synthetic documents table
_MIXED_DOCS = [
    (1, "en", "The Quick Brown fox AND THE lazy dog OF a to A"),
    (2, "de", "Der DIE und Das EIN kleines Haus"),
    (3, "en", ""),
    (4, "und", "Zzz!!! ??? ,,,"),
    (5, "id", "Yang DAN di KE itu Yang dan"),
]


@pytest.mark.parametrize("name", ["text_stats", "langid"])
def test_mixed_case_matches_oracle(name, spark, tmp_path):
    import pandas as pd

    pd.DataFrame(_MIXED_DOCS, columns=["doc_id", "lang", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = entry.queries()[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    exp = con.execute(ORACLES[name]).df()
    con.close()
    exp.columns = [c.lower() for c in exp.columns]
    assert _rows(got) == _rows(exp)


# oracle queries where an EMPTY (or trivially degenerate) result would still
# hash-match: a vacuous green can't catch a regression in the operator it
# gates (round-2 verdict #4 — repeated_lines matched on 0 rows for two
# rounds). Every query here must return rows at the smallest SF.
_MUST_BE_NONEMPTY = [
    "repeated_lines",
    "near_dup_pairs",
    "near_dup_clusters",
    "decontamination",
    "duplicate_spans",
    "exact_dedup",
    "frontier_new",
    "host_cap_threshold",
    "token_shards_bucketed",
]


@pytest.mark.parametrize("name", _MUST_BE_NONEMPTY)
def test_oracle_greens_are_not_vacuous(name, spark):
    assert ALL_QUERIES[name](spark, SF_DIR).count() > 0, (
        f"{name}: empty result — the oracle green would be vacuous"
    )


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0


def test_strip_boilerplate_actually_removes(spark):
    # the remover must FIRE on the footer stratum: every doc drops ≥1 line
    # and no clean_text still contains the footer phrase
    import pyspark.sql.functions as F

    out = ALL_QUERIES["strip_boilerplate"](spark, SF_DIR)
    assert out.filter(F.col("n_dropped") < 1).count() == 0
    assert out.filter(F.col("clean_text").contains("newsletter for daily")).count() == 0


def _jobs_in_group(spark, group, action):
    """Job ids the status tracker records for ``action()`` run under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_table_schema_is_inferred_once(spark, monkeypatch):
    # inferring a Parquet file's schema runs a job; a second read of the
    # same file reuses the schema and runs none, but is its own relation
    monkeypatch.setattr(entry, "_SCHEMAS", {})
    reads = []
    assert _jobs_in_group(spark, "schema:first", lambda: reads.append(
        entry._t(spark, SF_DIR, "nation")))
    assert not _jobs_in_group(spark, "schema:second", lambda: reads.append(
        entry._t(spark, SF_DIR, "nation")))
    a, b = reads
    assert a.schema == b.schema

    def attrs(df):  # e.g. "List(n_nationkey#12L, n_name#13, ...)"
        return df._jdf.queryExecution().analyzed().output().toString()

    assert attrs(a) != attrs(b)


def test_rewritten_table_is_reinferred(spark, monkeypatch, tmp_path):
    import pandas as pd

    monkeypatch.setattr(entry, "_SCHEMAS", {})
    path = tmp_path / "documents.parquet"
    pd.DataFrame({"doc_id": [1, 2]}).to_parquet(path)
    assert entry._t(spark, str(tmp_path), "documents").columns == ["doc_id"]
    pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]}).to_parquet(path)
    again = entry._t(spark, str(tmp_path), "documents")
    assert again.columns == ["doc_id", "text"]
    assert sorted(again.collect()) == [(1, "a"), (2, "b")]
