"""Tests of the benchmark's own helpers (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import corpus  # noqa: E402
import fold_trace  # noqa: E402
import run  # noqa: E402
from tracing import (  # noqa: E402
    COUNTERS, ROOT, Recorder, TokenizerProxy, self_times,
)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def _bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# -- metric names ---------------------------------------------------------


def test_metric_names_and_units_are_well_formed_and_unique():
    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in bench[group]:
            assert NAME.match(m["name"]), m["name"]
            assert UNIT.match(m["unit"]), m["unit"]
            names.append(m["name"])
    assert len(names) == len(set(names))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def _fold(layers):
    return {"plain_s": 1.0, "self": dict.fromkeys(["fold", *layers], 0.5),
            "total": {"fold": 1.5}, "counts": dict.fromkeys(COUNTERS, 2),
            "distinct_texts": 1}


def test_every_layer_metric_the_trace_produces_is_declared():
    declared = {m["name"] for m in _bench()["per_layer"]}
    produced = set(fold_trace.layer_metrics(_fold(fold_trace.LAYER_COUNTS)))
    produced |= {f"setup.{k}" for k in
                 ("session_s", "ship_package_s", "worker_warm_s")}
    assert produced <= declared
    assert fold_trace.layer_metrics(_fold([]))["trace.overhead_s"] == 0.5


def test_a_layer_that_did_not_run_yields_no_metric():
    got = fold_trace.layer_metrics(_fold(["pdf_lexer", "chunker"]))
    assert got["pdf_lexer.failures"] == 2
    assert "chunker.self_s" in got
    assert not [k for k in got if k.startswith(("html_extractor.",
                                                "tokenizer."))]


def test_only_layers_declared_not_run_read_zero():
    units = {"pdf_lexer.calls": "count", "split.docs_routed": "count"}
    completed = run.complete_layers({"pdf_lexer.calls": 3}, units, ["split."])
    assert completed == {"pdf_lexer.calls": (3.0, "count"),
                         "split.docs_routed": (0.0, "count")}
    with pytest.raises(run.CheckFailed, match="split.docs_routed"):
        run.complete_layers({"pdf_lexer.calls": 3}, units, [])


def test_recorder_rejects_an_undeclared_counter():
    rec = Recorder()
    assert rec.counts["pdf_lexer.failures"] == 0
    with pytest.raises(KeyError):
        rec.count("pdf_lexer.failure")


# -- self-time arithmetic -------------------------------------------------


def test_self_time_subtracts_children_union_clipped_to_parent():
    s = int(1e9)
    spans = [
        ("fold", 0, 10 * s, ROOT),       # 0
        ("lexer", 1 * s, 4 * s, 0),      # 1: 3 s
        ("chunker", 3 * s, 6 * s, 0),    # 2: overlaps lexer by 1 s
        ("tokenizer", 4 * s, 5 * s, 2),  # 3: inside chunker
        ("tail", 9 * s, 12 * s, 0),      # 4: runs 2 s past the parent
    ]
    st = self_times(spans)
    # children of fold cover [1,6] and [9,10] → 6 s; self = 10 - 6
    assert st["fold"] == pytest.approx(4.0)
    assert st["lexer"] == pytest.approx(3.0)
    assert st["chunker"] == pytest.approx(2.0)
    assert st["tokenizer"] == pytest.approx(1.0)
    assert st["tail"] == pytest.approx(3.0)


def test_recorder_nests_spans_and_sums_self_times_per_name():
    rec = Recorder()
    outer = rec.open("fold")
    for _ in range(3):
        rec.close(rec.open("tokenizer"))
    rec.close(outer)
    spans = rec.spans()
    assert [p for *_, p in spans] == [ROOT, 0, 0, 0]
    st = self_times(spans)
    total = (spans[0][2] - spans[0][1]) / 1e9
    assert st["fold"] + st["tokenizer"] == pytest.approx(total)


def test_tokenizer_proxy_forwards_both_counting_entry_points():
    class Tok:
        def __init__(self):
            self.other = "x"
            self._count_line_cached = lambda b: len(b)

        def count_tokens(self, text):
            return len(text.split())

    rec = Recorder()
    proxy = TokenizerProxy(Tok(), rec)
    assert proxy.count_tokens("a b c") == 3
    assert proxy._count_line_cached(b"ab") == 2
    assert proxy.count_tokens("a b c") == 3
    assert proxy.other == "x"
    assert rec.counts["tokenizer.calls"] == 3
    assert proxy.distinct_texts == 2
    assert [n for n, *_ in rec.spans()] == ["tokenizer"] * 3


# -- corpus fingerprint ---------------------------------------------------


def _fake_corpus(tmp_path, workload="pdf_mixed", seed=7):
    corpus_dir = tmp_path / "corpus" / workload
    data = corpus_dir / "data"
    data.mkdir(parents=True)
    (data / "part-00000.parquet").write_bytes(b"rows")
    manifest = {"key": corpus.cache_key(workload, seed, REPO),
                "files_sha256": corpus.files_hash(str(data))}
    (corpus_dir / "manifest.json").write_text(json.dumps(manifest))
    return corpus_dir


def test_cached_corpus_is_reused_only_for_its_own_key(tmp_path):
    d = str(_fake_corpus(tmp_path))
    assert corpus.load_cached("pdf_mixed", 7, d, REPO) is not None
    assert corpus.load_cached("pdf_mixed", 8, d, REPO) is None
    assert corpus.load_cached("html_tail", 7, d, REPO) is None


def test_changed_file_bytes_make_the_cache_stale(tmp_path):
    d = _fake_corpus(tmp_path)
    (d / "data" / "part-00000.parquet").write_bytes(b"rowz")
    assert corpus.load_cached("pdf_mixed", 7, str(d), REPO) is None


def test_changed_layout_or_generator_makes_the_cache_stale(tmp_path,
                                                          monkeypatch):
    d = str(_fake_corpus(tmp_path))
    monkeypatch.setattr(corpus, "LAYOUT", "another-layout")
    assert corpus.load_cached("pdf_mixed", 7, d, REPO) is None
    monkeypatch.undo()
    monkeypatch.setattr(corpus, "source_hash", lambda root: "edited")
    assert corpus.load_cached("pdf_mixed", 7, d, REPO) is None


def test_fingerprint_hashes_are_content_sensitive():
    doc = {"doc_id": "d", "spans": [{"kind": "text", "text": "a",
                                     "media_ref": None, "offset": 0}]}
    other = {"doc_id": "d", "spans": [dict(doc["spans"][0], offset=1)]}
    assert corpus.doc_content_hash(doc) != corpus.doc_content_hash(other)
    seq = [("chunk", "a", None, 0), ("media", None, "m", 1)]
    assert corpus.span_sequence_hash(seq) != \
        corpus.span_sequence_hash(seq[::-1])


def test_recorded_default_seed_fingerprints_match_the_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        recorded = json.load(f)["workloads"]
    assert set(recorded) == set(run.WORKLOADS) == set(corpus.SPECS)
    for name, w in recorded.items():
        fp = w["default_seed_fingerprint"]
        assert fp["seed"] == run.DEFAULT_SEED
        assert fp["totals"]["pages"] >= corpus.SPECS[name]["pages"]
        assert re.fullmatch(r"[0-9a-f]{64}", fp["content_sha256"])
        assert re.fullmatch(r"[0-9a-f]{64}", fp["output_sha256"])
        assert set(w["layers_not_run"]) <= {"html_extractor.", "split.",
                                            "checkpoint."}


def test_default_seed_fingerprint_mismatch_fails_the_run():
    fp = run.recorded("pdf_mixed")["default_seed_fingerprint"]
    docs = {"doc_a": {"spans_hash": "x"}}
    manifest = {"content_sha256": fp["content_sha256"],
                "totals": fp["totals"], "docs": docs}
    run.check_fingerprint("pdf_mixed", 7, manifest)  # other seeds: no pin
    with pytest.raises(run.CheckFailed, match="fingerprint"):
        run.check_fingerprint("pdf_mixed", run.DEFAULT_SEED, manifest)


@pytest.mark.parametrize("workload", sorted(corpus.SPECS))
def test_pinned_docs_regenerate_to_their_recorded_reference(workload):
    from fast_pdf_parser_spark.functions.tokenizer import (
        find_real_vocab, get_tokenizer,
    )

    pinned = run.recorded(workload)["pinned_spans"]
    tok = get_tokenizer(find_real_vocab())
    docs = corpus.docs_by_id(workload, run.DEFAULT_SEED, sorted(pinned))
    assert {d["doc_id"]: corpus._reference(d, tok)["spans_hash"]
            for d in docs} == pinned


# -- process cleanup -----------------------------------------------------------


def test_end_descendants_ends_orphaned_grandchildren():
    # a shell that starts a sleeper and exits at once: the sleeper is
    # orphaned, so only the subreaper setting keeps it below the run
    import subprocess

    code = (
        "import os, subprocess, session\n"
        "session.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True)\n"
        "assert session.descendants(os.getpid())\n"
        "session.end_descendants(grace=1.0)\n"
        "assert not session.descendants(os.getpid())\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60,
                   env=dict(os.environ, PYTHONPATH=HERE))
