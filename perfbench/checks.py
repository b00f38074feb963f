"""Output checks for the KG workloads, run outside the timed walls.

The triple table a run lands is summarised as (row count, sum of the
CRC-32 of each ``subj\\tpred\\tobj`` line): order-independent, and
computable the same way from Spark (``crc32``) and from Python
(``zlib.crc32``). Expected triples are recomputed per distinct text
with ``matcher.process_sample`` (in a plain RDD map, none of the
engine's code), and canonical objects with a union-find over
``engine.alias_edges``.
"""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from lexmapr_spark.engine import OBO_PREFIX, alias_edges
from lexmapr_spark.matcher import process_sample

_PRED = {"Full Term Match": "fullTermMatch",
         "Component Match": "componentMatch"}


def line_crc(subj: str, pred: str, obj: str) -> int:
    return zlib.crc32("\t".join((subj, pred, obj)).encode("utf-8"))


def spark_digest(spark, triples_dir: str) -> tuple[int, int]:
    """(rows, crc sum) of a landed triple table."""
    row = (spark.read.parquet(triples_dir)
           .agg(F.count("*").alias("n"),
                F.sum(F.crc32(F.concat_ws("\t", "subj", "pred", "obj")))
                .alias("crc"))
           .first())
    return int(row["n"]), int(row["crc"] or 0)


def canonical_map(spark, lex) -> dict:
    """Object IRI -> canonical (component-minimum) IRI, by union-find
    over the lexicon's alias graph."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst in alias_edges(spark, lex).collect():
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {OBO_PREFIX + n.upper(): OBO_PREFIX + find(n).upper()
            for n in list(parent)}


class Expected:
    """Recomputation of the triples a page must yield, memoised per
    distinct text. ``canon`` (from :func:`canonical_map`) rewrites
    objects as ``canonical=True`` runs do."""

    def __init__(self, lex):
        self.lex = lex
        self._by_text: dict = {}

    def fill(self, spark, lex_bc, texts, slices: int) -> None:
        """Match every distinct text of ``texts`` with ``process_sample``
        on the Spark workers (a plain RDD map, none of the engine's
        code), so a large workload's expectation takes seconds."""
        todo = sorted(set(texts) - self._by_text.keys())

        def match(part):
            from lexmapr_spark.matcher import process_sample

            lex = lex_bc.value
            for t in part:
                r = process_sample("", t, lex)
                yield t, r.macro_status, list(r.matched_pairs)

        rdd = spark.sparkContext.parallelize(todo, max(1, min(slices, len(todo))))
        for t, status, pairs in rdd.mapPartitions(match).collect():
            self._by_text[t] = (_PRED.get(status), tuple(map(tuple, pairs)))

    def _match(self, text: str):
        hit = self._by_text.get(text)
        if hit is None:
            r = process_sample("", text, self.lex)
            hit = self._by_text[text] = (_PRED.get(r.macro_status),
                                         tuple(r.matched_pairs))
        return hit

    def tier(self, text: str) -> str | None:
        """The predicate (match tier) a text's triples carry, or None."""
        return self._match(text)[0]

    def page(self, url: str, text: str, canon: dict | None) -> tuple[set, int]:
        """(deduplicated triples, raw pair count) for one page."""
        pred, pairs = self._match(text)
        if pred is None:
            return set(), 0
        out = set()
        for label, term_id in pairs:
            obj = OBO_PREFIX + term_id
            if canon is not None:
                obj = canon.get(obj, obj)
            out.add((f"{url}#{label}", pred, obj))
        return out, len(pairs)

    def digest(self, urls, texts, canon: dict | None) -> tuple[int, int, int]:
        """(rows, crc sum, raw rows before dedup) over all pages."""
        rows = crc = raw = 0
        for u, t in zip(urls, texts):
            got, n_raw = self.page(u, t, canon)
            rows += len(got)
            raw += n_raw
            crc += sum(line_crc(*tr) for tr in got)
        return rows, crc, raw


def golden_precision_recall(lex) -> tuple[float, float, int]:
    """Golden-corpus triple P/R and the number of cases with cell
    diffs, via the repository's golden harness."""
    from tests.golden_harness import corpus_precision_recall

    precision, recall, diffs = corpus_precision_recall(lex)
    return precision, recall, len(diffs)
