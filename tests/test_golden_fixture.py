"""Parity on the reference's only real (non-mocked) correctness artifact:
output/manual-de-redacao.md — a 430 KB docling conversion kept in the
reference repo (SURVEY.md §5 'golden fixture'). Our kernels must agree with
the reference's own functions on it byte-for-byte."""

from __future__ import annotations

import os

import pytest

from docling_gfcr_spark.kernels import markdown_ops as mk

GOLDEN = "/root/reference/output/manual-de-redacao.md"


@pytest.fixture(scope="module")
def golden_text():
    if not os.path.exists(GOLDEN):
        pytest.skip("reference golden fixture not present")
    return open(GOLDEN, encoding="utf-8").read()


def test_golden_validate_matches_reference(reference_agent, golden_text):
    ours = mk.validate_markdown(golden_text)
    ref = reference_agent.validate_markdown(golden_text)
    assert dict(ours["metrics"]) == dict(ref["metrics"])
    assert ours["issues"] == ref["issues"]
    assert ours["quality_score"] == ref["quality_score"]


def test_golden_known_structure(golden_text):
    """Absolute facts about the fixture: 430,343 bytes, 336 '##' headers,
    16 image placeholders (BASELINE.md says 18 — measured reality is 16)."""
    assert len(golden_text.encode("utf-8")) == 430343
    assert sum(1 for l in golden_text.splitlines() if l.startswith("## ")) == 336
    assert golden_text.count("<!-- image -->") == 16


def test_golden_optimize_matches_reference(reference_agent, golden_text):
    ours = mk.optimize_markdown(golden_text, "manual-de-redacao.pdf")
    ref = reference_agent.optimize_markdown(golden_text, "manual-de-redacao.pdf")
    assert ours == ref  # 430 KB byte-for-byte through the 5-rule chain


@pytest.mark.parametrize(
    "name",
    [
        "extract_transcripts",
        "extract_assembled_convs",
        "multimodal_assembled_convs",
        "dedup_simhash",
        "dedup_clusters",
        "dedup_minhash_pairs_fast",
        "emb_neardup_lsh",
        "ann_ivf_topk",
        "semantic_dedup",
        "multimodal_features",
        "multimodal_transformed",
    ],
)
def test_oracle_fixture_is_fresh(name):
    """The committed fixtures/ parquet (what the driver's DuckDB oracle
    reads) must equal a fresh run of the local pure-Python oracle — catches
    kernel/generator changes that weren't followed by
    `python tools/make_fixtures.py`."""
    import pandas as pd

    from tools import make_fixtures as mf

    path = os.path.join(mf.FIXTURE_DIR, f"{name}.parquet")
    assert os.path.exists(path), f"run tools/make_fixtures.py ({path} missing)"
    stored = pd.read_parquet(path)
    fresh = mf.COMPUTE[name]()
    pd.testing.assert_frame_equal(
        stored.reset_index(drop=True), fresh.reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "name",
    [
        "dedup_simhash",
        "dedup_clusters",
        "dedup_minhash_pairs_fast",
        "emb_neardup_lsh",
        "ann_ivf_topk",
        "semantic_dedup",
    ],
)
def test_sf01_fixture_variant_is_fresh(name, monkeypatch):
    """fixtures/sf0.1/ — the per-SF oracle variants the full-registry sf0.1
    sweep reads (queries._SF_FIXTURE_SQL) — must stay in sync with the
    local oracles computed AT that SF: same freshness discipline as the
    root fixtures, at the sweep's scale."""
    import pandas as pd

    from tools import make_fixtures as mf

    path = os.path.join(mf.FIXTURE_DIR, "sf0.1", f"{name}.parquet")
    assert os.path.exists(path), (
        f"run SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 tools/make_fixtures.py "
        f"({path} missing)"
    )
    monkeypatch.setattr(mf, "ORACLE_SF", "/root/testdata/sf0.1")
    stored = pd.read_parquet(path)
    fresh = mf.COMPUTE[name]()
    pd.testing.assert_frame_equal(
        stored.reset_index(drop=True), fresh.reset_index(drop=True)
    )


def test_dedup_clusters_sql_twin_matches_union_find_fixture():
    """Three independent implementations of the near-dup membership table
    must agree: the driver gate pins Spark CC == the live recursive-CTE SQL
    (queries.DEDUP_CLUSTERS_SQL); this pins SQL == the pure-Python
    union-find fixture — closing the triangle without Spark."""
    import duckdb
    import pandas as pd

    from docling_gfcr_spark import queries as Q
    from tools import make_fixtures as mf

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    got = (
        con.execute(Q.DEDUP_CLUSTERS_SQL)
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype("int64")
    )
    fix = (
        pd.read_parquet(os.path.join(mf.FIXTURE_DIR, "dedup_clusters.parquet"))
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype("int64")
    )
    pd.testing.assert_frame_equal(got, fix)


def test_query_registry_inventory():
    """``__spark_entry__`` exposes a fixed query-name set: 88 queries (operator
    twins may go, their names stay and route to the survivor) and 87 oracles,
    each keyed by a query name. Needs no JVM: building the registries runs
    no Spark."""
    import __spark_entry__ as entry

    names = entry.queries()
    oracles = entry.oracle_sql()
    assert len(names) == 88
    assert "dedup_clusters_star" in names
    assert len(oracles) == 87
    assert set(oracles) <= set(names), sorted(set(oracles) - set(names))
