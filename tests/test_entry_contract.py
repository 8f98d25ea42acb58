"""Driver-contract tests: entry() smoke + every queries() entry vs its
DuckDB oracle at sf0.001 (fast); the full sf0.01 gate is tests/driver_sim.py.
"""

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.driver_sim import TABLES, compare

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns[0] == "url"
    assert len(rows) >= 0


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs


# extract_docs/extract_lineage oracles are committed sf0.01 goldens
# (scripts/make_golden.py) — checked by test_golden_oracle_current below
# and by tests/driver_sim.py at sf0.01, not by this sf0.001 parity test.
_GOLDEN_QUERIES = {"extract_docs", "extract_lineage", "extract_neardups"}


@pytest.mark.parametrize(
    "name", sorted(set(entrymod.oracle_sql()) - _GOLDEN_QUERIES)
)
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    spark_df = fn(spark, SF).toPandas()
    duck_df = duck.execute(entrymod.oracle_sql()[name]).df()
    problems = compare(name, spark_df, duck_df)
    assert not problems, problems


def test_robots_filter_compiles_without_codegen_fallback(spark, duck):
    """With the interpreted fallback switched off, a stage whose
    generated code does not compile fails the query instead of running
    slowly and silently. robots_filter's uncut canonicalization once
    inlined into its hash aggregate and failed here (Janino "Failed to
    compile"); it must now compile and stay oracle-exact."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        spark_df = entrymod.queries()["robots_filter"](spark, SF).toPandas()
    finally:
        spark.conf.set(key, old)
    duck_df = duck.execute(entrymod.oracle_sql()["robots_filter"]).df()
    problems = compare("robots_filter", spark_df, duck_df)
    assert not problems, problems


@pytest.mark.parametrize("name", sorted(_GOLDEN_QUERIES))
def test_flagship_smoke(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF)
    assert df.count() > 0


def test_golden_oracle_current(spark):
    """The committed golden parquets must equal what the pure-Python oracle
    path produces from TODAY's testdata — catches silent drift from either
    a kernel change or a testdata regeneration. Regenerate deliberately
    with scripts/make_golden.py when this fails for a deliberate reason."""
    import hashlib
    import json
    import os
    import sys

    import pandas as pd
    import pyarrow as pa

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import make_golden

    golden_sf = "/root/testdata/sf0.01"
    with open(os.path.join(make_golden.GOLDEN_DIR, "INPUTS.json")) as fh:
        inputs = json.load(fh)
    with open(f"{golden_sf}/documents.parquet", "rb") as fh:
        assert inputs["documents_parquet_md5"] == hashlib.md5(fh.read()).hexdigest(), (
            "testdata changed since golden generation — rerun scripts/make_golden.py"
        )

    pages_rows = make_golden.collect_pages(spark, golden_sf)
    docs_df, lineage_df, texts_df = make_golden.golden_frames(pages_rows)
    docs_df = pa.Table.from_pandas(
        docs_df, schema=make_golden.DOCS_ARROW_SCHEMA, preserve_index=False
    ).to_pandas()
    lineage_df = pa.Table.from_pandas(
        lineage_df, schema=make_golden.LINEAGE_ARROW_SCHEMA, preserve_index=False
    ).to_pandas()
    texts_df = pa.Table.from_pandas(
        texts_df, schema=make_golden.TEXTS_ARROW_SCHEMA, preserve_index=False
    ).to_pandas()

    committed_docs = pd.read_parquet(
        os.path.join(make_golden.GOLDEN_DIR, "extract_docs_sf0.01.parquet")
    )
    committed_lineage = pd.read_parquet(
        os.path.join(make_golden.GOLDEN_DIR, "extract_lineage_sf0.01.parquet")
    )
    committed_texts = pd.read_parquet(
        os.path.join(make_golden.GOLDEN_DIR, "extract_texts_sf0.01.parquet")
    )
    pd.testing.assert_frame_equal(docs_df, committed_docs)
    pd.testing.assert_frame_equal(lineage_df, committed_lineage)
    pd.testing.assert_frame_equal(texts_df, committed_texts)


def test_repeat_pairs_keeps_empty_word_docs(spark, tmp_path):
    """A doc whose text normalizes to zero tokens must still pair (its
    symdiff is just the other doc's word count) — an explode-derived inner
    join on sizes silently dropped these while the oracle kept them."""
    import pandas as pd

    sf_dir = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["!!! ??? ... ,,, ;;;", "casa rio foro justica lei"],
            "lang": ["pt", "pt"],
            "source": ["srcX", "srcX"],
            "n_chars": [100, 95],
        }
    ).to_parquet(f"{sf_dir}/documents.parquet")
    got = entrymod.queries()["repeat_pairs"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = con.execute(entrymod.oracle_sql()["repeat_pairs"]).df()
    problems = compare("repeat_pairs_empty", got, want)
    assert not problems, problems
    assert len(got) == 1 and int(got["symdiff"].iloc[0]) == 5


def test_chain_components_collapse_paths(spark):
    """Binding-regime guard for the chain fixture: every 32-doc chain must
    collapse into ONE component with a single keeper (the chain-min
    doc_id), although verified edges only link docs <= 2 apart — a path
    graph whose diameter grows with chain length, the case where plain
    min-label propagation needs O(diameter) rounds."""
    import math

    df = entrymod._q_chain_components(spark, SF).toPandas()
    n = len(df)
    assert n > 0
    sizes = df.groupby("component_id").size()
    assert len(sizes) == math.ceil(n / entrymod._CHAIN_LEN)
    keepers = df.groupby("component_id")["keeper"].sum()
    assert (keepers == 1).all()
    # the component label is the smallest doc_id of its chain
    assert (df["component_id"] == (df["doc_id"] // entrymod._CHAIN_LEN)
            .map(lambda g: df[df["doc_id"] // entrymod._CHAIN_LEN == g]
                 ["doc_id"].min())).all()


def test_hotshingle_df_cap_binding(spark):
    """Binding-regime guard for the hot-shingle fixture: with the df cap
    the 15 universal boilerplate words are dropped, so EXACTLY the
    designed partner pairs (2u, 2u+1) survive at jaccard 9/11 = 81%."""
    df = entrymod._q_hotshingle_neardups(spark, SF).toPandas()
    assert len(df) > 0
    assert (df["jaccard_pct"] == 81).all()
    assert (df["id_b"] - df["id_a"] == 1).all()
    assert (df["id_a"] % 2 == 0).all()
