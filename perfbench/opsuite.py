"""The contract query suite: one ``__spark_entry__.queries()`` entry per
ops module, run over the seeded tables of ``tables.py``.

Each query's output is collected to pandas inside its timed wall and
checked outside it:

* against the query's DuckDB oracle from ``__spark_entry__.oracle_sql()``:
  column names, row count and every value, with rows ordered as
  ``tools/check_contract.py`` orders them. Floats compare within the
  oracles' 6-decimal rounding rather than by a hash of the rounded
  text, because two engines can round a value at a rounding boundary
  to neighbouring last digits. The oracle functions that bind to a
  fixed dataset are left out while the oracles are built: they would
  read files outside the benchmark's inputs;
* ``text_token_count_bpe``: each document's BPE token count against
  the sequential driver-side tokenizer (what its fixture oracle does);
* ``kg_triples``: row count and CRC sum against a ``process_sample``
  recomputation of every document (``checks.Expected``).
"""

from __future__ import annotations

import decimal
import math
import os

# query -> the module whose operators it times (ops.<module>.s)
SUITE = {
    "kg_triples": "kg",
    "join_orders_customer": "sql",
    "dedup_minhash_signatures": "dedup",
    "ann_quantized_topk": "similarity",
    "search_bm25_topk": "search",
    "text_quality": "textstats",
    "events_asof_attribution": "joins",
    "graph_pagerank": "graph",
    "text_token_count_bpe": "bpe",
    "pack_sequences_2k": "packing",
    "sample_domain_cap": "sampling",
    "multimodal_features_docs": "multimodal",
    "web_url_normalize": "web",
}
MODULES = sorted(set(SUITE.values()))
TABLES = ("documents", "embeddings", "events", "orders", "customer")
# oracle functions that read a fixed dataset instead of the views
_DATA_BOUND = ("_ivf_oracle_sqls", "_srp_oracle_sqls", "_bpe_oracle_sqls",
               "_kg_oracle_sqls")


def _entry():
    import __spark_entry__

    return __spark_entry__


def _cell(v):
    """A pandas cell as a plain Python value (None for null and NaN)."""
    if hasattr(v, "tolist"):          # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _order_key(row) -> str:
    # floats rounded coarser than the tolerance, so that two engines'
    # last-digit differences cannot reorder the rows
    return "|".join(f"{x:.4f}" if isinstance(x, float) else str(x)
                    for x in row)


def _rows(pdf):
    """(column names, rows) in a fixed order, as the contract checker
    orders them: columns by name, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=_order_key)


def _same(a, b) -> bool:
    """Equal, floats within the oracles' 6-decimal rounding."""
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


class Suite:
    """Runs the suite on one session and checks every output."""

    def __init__(self, spark, tables_dir: str):
        self.spark = spark
        self.dir = tables_dir
        queries = _entry().queries()
        self.queries = {n: queries[n] for n in SUITE}
        self._want: dict = {}

    def run(self, name: str):
        """Run one query to pandas (the timed unit)."""
        return self.queries[name](self.spark, self.dir).toPandas()

    # -- expectations -------------------------------------------------------

    def _oracles(self) -> dict:
        import duckdb

        entry = _entry()
        saved = {n: getattr(entry, n) for n in _DATA_BOUND}
        try:
            for n in _DATA_BOUND:
                setattr(entry, n, dict)
            sqls = entry.oracle_sql()
        finally:
            for n, fn in saved.items():
                setattr(entry, n, fn)
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return {n: _rows(con.sql(sqls[n]).df()) for n in SUITE if n in sqls}
        finally:
            con.close()

    def _bpe_counts(self) -> dict:
        import pyarrow.parquet as pq

        from lexmapr_spark.ops import bpe

        docs = pq.read_table(os.path.join(self.dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        ranks = bpe.merge_ranks()
        memo: dict = {}
        return {i: bpe.bpe_token_count(t or "", ranks, memo)
                for i, t in zip(docs["doc_id"], docs["text"])}

    def expect(self, kg_digest: tuple[int, int]) -> None:
        """Build every expectation; ``kg_digest`` is the (rows, crc) the
        documents-as-pages triples must have."""
        self._want = self._oracles()
        self._want["text_token_count_bpe"] = self._bpe_counts()
        self._want["kg_triples"] = kg_digest
        missing = set(SUITE) - set(self._want)
        if missing:
            raise RuntimeError(f"no expectation for {sorted(missing)}")

    def observe(self, name: str, pdf):
        """What :meth:`verify` compares, taken from one query output."""
        if name == "kg_triples":
            from checks import line_crc

            return len(pdf), sum(line_crc(*r) for r in pdf[
                ["subj", "pred", "obj"]].itertuples(index=False, name=None))
        if name == "text_token_count_bpe":
            return dict(zip(pdf["doc_id"].tolist(), pdf["n_tokens"].tolist()))
        return _rows(pdf)

    def verify(self, name: str, got) -> tuple[bool, dict]:
        """(ok, details) of one observation against its expectation."""
        want = self._want[name]
        if isinstance(want, dict):
            return got == want, {"rows": len(got), "expected_rows": len(want),
                                 "differing": sum(got.get(k) != v
                                                  for k, v in want.items())}
        if name == "kg_triples":
            return tuple(got) == tuple(want), {"got": got, "expected": want}
        (cols, rows), (want_cols, want_rows) = got, want
        bad = [(r, w) for r, w in zip(rows, want_rows) if not _same(r, w)]
        ok = cols == want_cols and len(rows) == len(want_rows) and not bad
        return ok, {"columns": cols, "expected_columns": want_cols,
                    "rows": len(rows), "expected_rows": len(want_rows),
                    "first_differences": [list(map(str, d)) for d in bad[:3]]}
