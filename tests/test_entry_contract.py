"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql()
keys are consistent, and a fast subset cross-checks against DuckDB
at sf0.001 (the full sweep lives in tools/check_contract.py)."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from lexmapr_spark import engine

SF = "/root/testdata/sf0.001"
# the kg_* fixture oracles are built over the sf0.01 corpus
SF_KG = os.path.join(os.path.dirname(SF), "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

FAST_ORACLE_SUBSET = [
    "s2_multicol_coalesce", "p6_preprocess", "agg_event_histogram",
    "sort_topk_orders", "dedup_exact", "text_fingerprint",
    "ann_cosine_topk",
]


@pytest.fixture(scope="module")
def spark():
    s = engine.build_spark(cpus=4, app="entry_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["subj", "pred", "obj"]
    assert df.count() >= 0


def test_oracle_keys_subset_of_queries():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    # every contract query is oracle-checked: none falls back to a
    # rows-only check
    assert o == q, (sorted(o - q), sorted(q - o))


@pytest.mark.skipif(not os.path.isdir(SF_KG), reason="no sf0.01 tables")
@pytest.mark.parametrize("builder", ["_ivf_oracle_sqls", "_srp_oracle_sqls",
                                     "_bpe_oracle_sqls"])
def test_data_bound_oracle_builders_raise_on_error(monkeypatch, builder):
    """With the sf0.01 tables present, a DuckDB failure must surface,
    not silently turn the builder's queries into rows-only checks."""
    def broken_connect(*args, **kwargs):
        raise RuntimeError("duckdb unavailable")

    monkeypatch.setattr(duckdb, "connect", broken_connect)
    with pytest.raises(RuntimeError, match="duckdb unavailable"):
        getattr(entrymod, builder)()


@pytest.fixture(scope="module")
def schemas(spark):
    """Every contract query's output schema, each plan built once for
    the schema checks below."""
    return {name: fn(spark, SF).schema
            for name, fn in sorted(entrymod.queries().items())}


def test_oracled_queries_are_scalar_only(schemas):
    """Driver-canonicalizer hazard guard: the correctness harness sorts
    raw result columns with pandas, which cannot sort array/map/struct
    cells — every oracled query must therefore emit scalar columns only
    (serialize or explode any nested value)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    oracled = set(entrymod.oracle_sql())
    offenders = []
    for name in sorted(oracled):
        schema = schemas[name]
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, offenders


def test_no_decimal_outputs(schemas):
    """r7 verdict: Spark.toPandas() renders DECIMAL columns as
    decimal.Decimal objects while DuckDB .df() yields float64 — hash
    normalizers that stringify rather than coerce see them differ even
    when values are identical (events_range_join was driver hash-red
    for exactly this). DECIMAL is an internal order-independence tool
    only: every queries() entry must cast decimal sums back to DOUBLE
    in its final projection."""
    from pyspark.sql.types import DecimalType

    offenders = []
    for name, schema in sorted(schemas.items()):
        for field in schema.fields:
            if isinstance(field.dataType, DecimalType):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, offenders


@pytest.mark.parametrize("name", FAST_ORACLE_SUBSET)
def test_fast_oracle_parity(spark, duck, name):
    from tools.check_contract import normalize

    spark_pdf = entrymod.queries()[name](spark, SF).toPandas()
    duck_pdf = duck.sql(entrymod.oracle_sql()[name]).df()
    s_cols, s_hash, _ = normalize(spark_pdf)
    d_cols, d_hash, _ = normalize(duck_pdf)
    assert s_cols == d_cols
    assert s_hash == d_hash


def test_kg_fixture_oracles_present_and_runnable():
    """r6: the 5 matcher-driven kg_* queries gained fixture oracles —
    SELECTs over reference-truth parquet built by
    tools/build_kg_oracle_fixture.py. Guard that the fixtures exist,
    every kg oracle parses/executes in DuckDB standalone (absolute
    paths, no views needed), and the per-doc truth covers the whole
    sf0.01 corpus."""
    fix = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests", "golden", "kg_oracle")
    for f in ("ref_rows.parquet", "confidence.parquet",
              "canon_map.parquet"):
        assert os.path.exists(os.path.join(fix, f)), f

    oracles = entrymod.oracle_sql()
    kg = [k for k in oracles if k.startswith("kg_")
          and k != "kg_text_extraction"]
    assert set(kg) >= {"kg_triples", "kg_match_histogram",
                       "kg_classification_histogram",
                       "kg_canonical_triples",
                       "kg_confidence_histogram"}
    con = duckdb.connect()
    for name in kg:
        assert len(con.sql(oracles[name]).df()) > 0, name
    n = con.sql(f"SELECT count(*) FROM "
                f"read_parquet('{fix}/ref_rows.parquet')").fetchone()[0]
    assert n == 500
    con.close()


def test_kg_canonical_triples_matches_fixture_oracle(spark):
    """kg_canonical_triples at sf0.01 equals its fixture oracle, whose
    canon_map.parquet comes from tools/build_kg_oracle_fixture.py's own
    union-find, not from the engine's."""
    from tools.check_contract import normalize

    name = "kg_canonical_triples"
    oracle = entrymod.oracle_sql()[name]
    spark_pdf = entrymod.queries()[name](spark, SF_KG).toPandas()
    con = duckdb.connect()
    duck_pdf = con.sql(oracle).df()
    con.close()
    s_cols, s_hash, s_rows = normalize(spark_pdf)
    d_cols, d_hash, d_rows = normalize(duck_pdf)
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows) > 0
    assert s_hash == d_hash


def test_p5_prescreen_matches_bare_try_cast(spark):
    """r9: the digit/special-literal prescreen in front of try_cast
    must be decision-identical to the bare try_cast form it replaced
    (the prescreen exists because a failed string->double cast
    throws/catches a JVM exception per token)."""
    from pyspark.sql import functions as F

    adv = ["1 +1 -1.5 .5 5. 1e5 1E-5 1e e5 inf Inf INF INFINITY +inf",
           "-infinity nan NaN NAN +nan -nan 1.5d 1.5f 1.5D 0x1p3 0xA",
           "1_000 one 1,000 12.3.4 +-1 --1 ++1 . + - 1e308 1e309",
           "١٢ i-n-f n a n infinityd nand Infinity -Infinity",
           "\tinf\t 1 abc123 123abc 9 00 007 2. -1e309",
           "", " ", "join scan in f ni fi nf infin infinity0"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(adv)],
                               "doc_id LONG, text STRING")
    old = "size(filter(split(text, ' '), x -> try_cast(x AS DOUBLE) IS NOT NULL))"
    new = ("size(filter(split(text, ' '), "
           "x -> CASE WHEN translate(x, '0123456789', '') != x "
           "OR lower(regexp_replace(x, '[^a-zA-Z]', '')) "
           "IN ('inf', 'infinity', 'nan') "
           "THEN try_cast(x AS DOUBLE) IS NOT NULL ELSE false END))")
    rows = df.select("doc_id", F.expr(old).alias("o"),
                     F.expr(new).alias("n")).collect()
    bad = [(r.doc_id, r.o, r.n) for r in rows if r.o != r.n]
    assert not bad, bad
