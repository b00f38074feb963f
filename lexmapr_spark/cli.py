"""End-user CLI mirroring the reference's ``bin/lexmapr``
(/root/reference/bin/lexmapr:24-58): same positional input validation
(csv/tsv by extension), same flags (``-o/--output``, ``-f/--full``,
``-c/--config``, ``-b/--bucket``, ``--no-cache``, ``-v/--version``,
``-p/--profile ifsac``), same TSV output bytes.

Two execution modes:
  * default: in-process loop over the matcher — the reference's
    single-node behavior, byte-exact against its goldens;
  * ``--spark [CPUS]``: the same rows through the distributed engine
    (``engine.annotate`` -> ``render_wide_tsv``), byte-exact too
    (pinned by tests/test_engine_spark.py).

Documented deviations from the reference, both driven by the offline
build: ``--config`` entries must reference LOCAL OWL files (the
reference fetches ontologies over the network,
pipeline_resources.py:74+; the compile itself — imports resolution,
root scoping, merge priority — matches), and ``--profile ifsac``
applies the profile's default args (resources/profiles/ifsac/
ifsac_args.json: bucket=True, output=ifsac_output.tsv) over the
predefined lexicon instead of a fetched ontology cache.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import sys

__version__ = "0.7.3-spark"

# reference resources/profiles/ifsac/ifsac_args.json
PROFILES = {"ifsac": {"output": "ifsac_output.tsv", "bucket": True}}


def valid_input_file(path: str) -> str:
    """bin/lexmapr:16-31 — extension then existence."""
    _, ext = os.path.splitext(path)
    if ext not in (".csv", ".tsv"):
        raise argparse.ArgumentTypeError(
            "Please supply a csv or tsv input file")
    if not os.path.exists(path):
        raise FileNotFoundError(path + " not found")
    return path


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="lexmapr-spark",
        formatter_class=argparse.RawTextHelpFormatter)
    parser.add_argument("input_file", help="Input csv or tsv file",
                        type=valid_input_file)
    parser.add_argument("-o", "--output", nargs="?", help="Output file")
    parser.add_argument("-f", "--full", action="store_true",
                        help="Full output format")
    parser.add_argument("-c", "--config",
                        help="Path to JSON file listing {owl_path: root_iri}"
                             " ontologies to compile terms from (local "
                             "files; this build has no network fetch)")
    parser.add_argument("-b", "--bucket", action="store_true",
                        help="Classify samples into pre-defined buckets")
    parser.add_argument("--no-cache", action="store_true", dest="no_cache",
                        help="Ignore cached compiled lexicon, if any")
    parser.add_argument("--cache", help="Path for the compiled-lexicon "
                                        "cache (created when absent)")
    parser.add_argument("-v", "--version", action="version",
                        version="%(prog)s " + __version__)
    parser.add_argument("-p", "--profile", choices=["ifsac"],
                        help="Pre-defined sets of command-line arguments:\n\n"
                             "* ifsac:\n"
                             "  * maps samples to food/environmental terms\n"
                             "  * classifies samples into ifsac labels\n"
                             "  * outputs to ``ifsac_output.tsv``")
    parser.add_argument("--spark", nargs="?", const="*", default=None,
                        metavar="CPUS",
                        help="Run through the distributed engine on "
                             "local[CPUS] (default all cores)")
    parser.add_argument("--sharded-output", metavar="DIR",
                        dest="sharded_output",
                        help="With --spark: write the wide TSV as a "
                             "directory of part files (worker-side "
                             "formatting, no driver collect — the "
                             "scale path; _header.tsv + part files "
                             "concatenate to the same rows as -o, "
                             "sorted by sample id rather than input "
                             "order)")
    return parser


def read_samples(path: str):
    """(sample_id, space-joined desc) rows, header skipped
    (pipeline.py:98-112)."""
    delim = "\t" if path.endswith(".tsv") else ","
    with open(path, newline="") as fr:
        reader = csv.reader(fr, delimiter=delim)
        next(reader)
        for row in reader:
            yield row[0].strip(), " ".join(row[1:]).strip()


def load_lexicon_for(args):
    from lexmapr_spark.lexicon import default_lexicon
    from lexmapr_spark.lexicon_io import load_lexicon, save_lexicon

    if args.cache and not args.no_cache and os.path.exists(args.cache):
        lex = load_lexicon(args.cache)
    else:
        lex = default_lexicon()
        if args.cache:
            save_lexicon(lex, args.cache)

    if args.config:
        from lexmapr_spark.ontology import compile_config, resolve_ontology_path
        with open(args.config) as f:
            entries = [(resolve_ontology_path(path), root)
                       for obj in json.load(f)
                       for path, root in obj.items()]
        for path, _root in entries:
            if not os.path.exists(path):
                raise FileNotFoundError(
                    f"config ontology {path!r} not found — this build "
                    "compiles ontologies offline; provide a local OWL path")
        lex = compile_config(entries, base=lex)
    return lex


def run(args) -> int:
    if args.profile:
        for key, val in PROFILES[args.profile].items():
            if not getattr(args, key):
                setattr(args, key, val)

    if args.sharded_output and args.spark is None:
        raise SystemExit("--sharded-output requires --spark")

    lex = load_lexicon_for(args)
    rows = list(read_samples(args.input_file))

    if args.spark is not None:
        from lexmapr_spark import engine
        spark = engine.build_spark(cpus=args.spark, app="lexmapr_cli")
        spark.sparkContext.setLogLevel("ERROR")
        lex_bc = engine.broadcast_lexicon(spark, lex)
        if args.sharded_output:
            # scale path: worker-side formatting, distributed text sink
            df = spark.createDataFrame(rows, "url STRING, text STRING")
            mentions = engine.annotate(df, lex_bc, classify=args.bucket)
            engine.write_wide_tsv(mentions, args.sharded_output,
                                  full=args.full, bucket=args.bucket)
            if not args.output:
                return 0
        if rows:
            df = spark.createDataFrame(
                rows, "url STRING, text STRING").coalesce(1)
            collected = engine.annotate(df, lex_bc, min_partitions=None,
                                        classify=args.bucket).collect()
        else:
            collected = []
        text = engine.render_wide_tsv(collected, full=args.full,
                                      bucket=args.bucket)
    else:
        from lexmapr_spark.matcher import (
            format_output_row,
            process_sample,
            wide_headers,
        )
        lines = ["\t".join(wide_headers(args.full, args.bucket))]
        for sid, desc in rows:
            res = process_sample(sid, desc, lex, classify=args.bucket)
            lines.append("\t".join(format_output_row(
                res, full=args.full, bucket=args.bucket)))
        text = "\n".join(lines) + "\n"

    if args.output:
        with open(args.output, "w") as fw:
            fw.write(text)
    else:
        sys.stdout.write(text)
    return 0


def main(argv=None) -> int:
    return run(build_parser().parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
