"""Lexicon artifact round-trip + profile mechanism tests."""

import json
import os
import subprocess
import sys

from lexmapr_spark import lexicon_io
from lexmapr_spark.lexicon import default_lexicon
from lexmapr_spark.matcher import process_sample
from tests.golden_harness import corpus_precision_recall


def test_artifact_roundtrip_behavior_identical(tmp_path):
    lex = default_lexicon()
    path = str(tmp_path / "lexicon.json")
    lexicon_io.save_lexicon(lex, path)
    loaded = lexicon_io.load_lexicon(path)

    for text in ["Chicken Breast", "enterica Salmonella", "csf f",
                 "proximal epiphysis of manual digit 1"]:
        a = process_sample("s", text, lex)
        b = process_sample("s", text, loaded)
        assert a == b, text
    assert loaded.content_hash() == lex.content_hash()


def test_content_hash_stable_across_hash_seeds():
    """The lexicon hash in a run fingerprint must agree between the
    process that wrote a run and the one resuming it, whatever their
    PYTHONHASHSEED (set iteration order)."""
    code = ("from lexmapr_spark.lexicon import default_lexicon; "
            "print(default_lexicon().content_hash())")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hashes = {
        subprocess.run(
            [sys.executable, "-c", code], check=True, capture_output=True,
            text=True, cwd=root,
            env={**os.environ, "PYTHONHASHSEED": seed}).stdout.strip()
        for seed in ("1", "2")}
    assert hashes == {default_lexicon().content_hash()}


def test_artifact_passes_golden_corpus(tmp_path):
    path = str(tmp_path / "lexicon.json")
    lexicon_io.save_lexicon(default_lexicon(), path)
    loaded = lexicon_io.load_lexicon(path)
    precision, recall, diffs = corpus_precision_recall(lex=loaded)
    assert precision == 1.0 and recall == 1.0 and diffs == {}


def test_profile_mechanism(tmp_path):
    profile_dir = str(tmp_path)
    os.makedirs(os.path.join(profile_dir, "myprofile"))
    lexicon_io.save_lexicon(
        default_lexicon(),
        os.path.join(profile_dir, "myprofile", "myprofile_table.json"))
    with open(os.path.join(profile_dir, "myprofile",
                           "myprofile_args.json"), "w") as f:
        json.dump({"bucket": True, "full": True}, f)
    lex, args = lexicon_io.get_profile_lexicon(profile_dir, "myprofile")
    assert args == {"bucket": True, "full": True}
    r = process_sample("s", "gastric vein", lex)
    assert r.macro_status == "Full Term Match"
