"""Seeded workload inputs for the KG-construction benchmark.

Each workload is a pages table ``(url, text)`` built from the realistic
sample-description corpora that ``lexmapr_spark.pages.load_corpus``
reads. The seed fixes every draw, so the same seed gives the same
parquet files; the program only ever sees those files.

Page texts join one to three corpus descriptions (". "-joined, as
``pages.synth_pages(sentences_per_page=k)`` does), so all three match
tiers occur: single descriptions carry most full-term matches, longer
pages go through the component tier. A suite workload's contract
tables come from ``tables.py``.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

# descriptions per page text, and how often each count is drawn
_DESCS_PER_PAGE = (1, 2, 3)
_DESCS_WEIGHTS = (2, 2, 1)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pages: int
    distinct_texts: int      # == pages for a workload without repeats
    zipf_s: float = 0.0      # popularity exponent over the distinct texts
    n_buckets: int = 4
    files: int = 8           # parquet files, hence scan partitions
    suite: bool = False      # also times the contract query suite


# Both workloads run through engine.run_with_checkpoint (the
# tools/submit_job.py default) and differ in how often page texts
# repeat, so one exercises annotate's per-task memo and the other
# bypasses it. The contract query suite rides on crawl_repeat: as a
# workload of its own, its driver pass over 500 documents was too short
# to be steady. The shares each "why" gives are traced self times over
# the full run at 4 cores.
WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="crawl_unique",
            why=("Every page text distinct (repeat share 0): the page memo "
                 "is bypassed; the matcher (annotate) is about half of a full "
                 "run, the parquet sink a third."),
            pages=20_000,
            distinct_texts=20_000,
        ),
        Workload(
            name="crawl_repeat",
            why=("Zipf-repeated texts (repeat share 0.99): the memo absorbs "
                 "the matcher; the Arrow hand-off and the parquet sink carry "
                 "~85% of a full run. Also times one contract query per ops "
                 "module."),
            pages=200_000,
            distinct_texts=2_000,
            zipf_s=1.0,
            suite=True,
        ),
    )
}


@dataclass
class Inputs:
    path: str
    urls: list
    texts: list
    properties: dict
    files: list              # (parquet file, rows) in write order


def _distinct_texts(rng: random.Random, corpus: list, n: int) -> list:
    seen: set = set()
    out: list = []
    while len(out) < n:
        k = rng.choices(_DESCS_PER_PAGE, _DESCS_WEIGHTS)[0]
        text = ". ".join(rng.choice(corpus) for _ in range(k))
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def generate(wl: Workload, seed: int, path: str) -> Inputs:
    """Write ``wl``'s pages for ``seed`` as ``wl.files`` parquet files
    under ``path`` and return them with their exact properties."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lexmapr_spark.pages import load_corpus

    rng = random.Random(f"{wl.name}:{seed}")
    corpus = sorted(set(load_corpus()))
    base = _distinct_texts(rng, corpus, wl.distinct_texts)
    if wl.distinct_texts == wl.pages:
        texts = base
    else:
        weights = [1.0 / (rank + 1) ** wl.zipf_s for rank in range(len(base))]
        texts = rng.choices(base, weights, k=wl.pages)
    urls = [f"https://host{rng.randrange(1000)}.example/{seed}/p/{i}"
            for i in range(wl.pages)]

    os.makedirs(path, exist_ok=True)
    per_file = -(-wl.pages // wl.files)
    files = []
    for f in range(wl.files):
        lo, hi = f * per_file, min((f + 1) * per_file, wl.pages)
        files.append((os.path.join(path, f"part-{f:03d}.parquet"), hi - lo))
        pq.write_table(pa.table({"url": urls[lo:hi], "text": texts[lo:hi]}),
                       files[-1][0])

    distinct = len(set(texts))
    properties = {
        "workload.pages": len(texts),
        "workload.distinct_texts": distinct,
        "workload.repeat_share": 1.0 - distinct / len(texts),
        "workload.text_mb": sum(len(t.encode("utf-8")) for t in texts) / 1e6,
    }
    return Inputs(path=path, urls=urls, texts=texts,
                  properties=properties, files=files)
