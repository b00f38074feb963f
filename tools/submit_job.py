"""The production entrypoint: run the KG-construction pipeline via
``spark-submit --py-files lexmapr_spark.zip tools/submit_job.py``.

Usage:
  spark-submit --master local[8] --py-files /path/lexmapr_spark.zip \
      tools/submit_job.py <n_pages> <out_dir> [n_buckets] [--artifacts]

Runs the checkpointed, resumable pipeline (pages -> mentions -> triples
with a per-bucket manifest). Re-submitting with the same out_dir after
a kill resumes, skipping completed buckets; the resume must use the
same n_buckets, mode and lexicon, or the run is refused. With
``--artifacts`` it runs ``engine.run_full_artifacts`` instead, emitting
the mentions table, the triples, AND the wide TSV part files from one
input pass. Prints one JSON line.

The lexicon resource CSVs are data files (not importable from a
--py-files zip), so when running from a zip the lexicon is compiled
from ``LEXMAPR_RESOURCE_DIR`` (defaults to the resources directory
next to this script's repo checkout).
"""

import json
import os
import sys
import time


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_pages = int(args[0]) if len(args) > 0 else 20000
    out_dir = args[1] if len(args) > 1 else "/tmp/lexmapr_out"
    n_buckets = int(args[2]) if len(args) > 2 else 8

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("lexmapr_kg_submit")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .getOrCreate())

    from lexmapr_spark import engine
    from lexmapr_spark.lexicon import compile_predefined
    from lexmapr_spark.pages import synth_pages

    resource_dir = os.environ.get(
        "LEXMAPR_RESOURCE_DIR",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
            "lexmapr_spark", "resources", "predefined"))
    lex = compile_predefined(resource_dir=resource_dir)
    lex_bc = engine.broadcast_lexicon(spark, lex)

    pages = synth_pages(spark, n_pages)
    t0 = time.time()
    if "--artifacts" in sys.argv[1:]:
        stats = engine.run_full_artifacts(pages, lex_bc, out_dir,
                                          n_buckets=n_buckets)
    else:
        stats = engine.run_with_checkpoint(pages, lex_bc, out_dir,
                                           n_buckets=n_buckets)
    stats["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
