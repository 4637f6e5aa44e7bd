"""In-memory span recorder for the traced run, plus the wrappers that put
spans around the fold's public calls.

Spans are (name, start_ns, end_ns, parent index) kept in flat arrays and
written out once, when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

Nothing here changes program code: ``instrument`` swaps module attributes
(the lexer and html entry points, the chunker's ``detect_line_type`` and
its ``StreamingChunker`` push/finish methods) for recording wrappers, and
``TokenizerProxy`` stands in for the tokenizer the fold is given.
"""

from __future__ import annotations

import functools
import json
import time
from array import array

ROOT = -1

# Every counter the wrappers keep. Each starts at 0, so a layer that ran
# but never failed reads 0 failures, and a mistyped key raises.
COUNTERS = (
    "pdf_lexer.calls", "pdf_lexer.pages_out", "pdf_lexer.bytes_in",
    "pdf_lexer.failures", "html_extractor.calls", "html_extractor.failures",
    "chunker.pages_in", "chunker.chunks_out", "classifier.calls",
    "tokenizer.calls",
)


class Recorder:
    """Spans of one single-threaded process, nested by a call stack."""

    def __init__(self) -> None:
        self.names: list[str] = []
        self._name_ids: dict[str, int] = {}
        self.name_id = array("q")
        self.start = array("q")
        self.end = array("q")
        self.parent = array("q")
        self._stack: list[int] = []
        self.counts: dict[str, float] = dict.fromkeys(COUNTERS, 0)

    def _intern(self, name: str) -> int:
        nid = self._name_ids.get(name)
        if nid is None:
            nid = self._name_ids[name] = len(self.names)
            self.names.append(name)
        return nid

    def open(self, name: str) -> int:
        idx = len(self.start)
        self.name_id.append(self._intern(name))
        self.parent.append(self._stack[-1] if self._stack else ROOT)
        self.end.append(0)
        self._stack.append(idx)
        self.start.append(time.perf_counter_ns())
        return idx

    def close(self, idx: int) -> None:
        self.end[idx] = time.perf_counter_ns()
        self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] += n

    def spans(self):
        """(name, start_ns, end_ns, parent) tuples in open order."""
        names = self.names
        return [(names[n], s, e, p) for n, s, e, p in
                zip(self.name_id, self.start, self.end, self.parent)]

    def write(self, path: str) -> None:
        """One JSON line per span: name, start, end (ns), parent index."""
        with open(path, "w") as f:
            for i, (name, s, e, p) in enumerate(self.spans()):
                f.write(json.dumps([i, name, s, e, p]) + "\n")


def self_times(spans) -> dict[str, float]:
    """Total self time in seconds per span name.

    ``spans``: (name, start, end, parent) with ``parent`` an index into
    ``spans`` or ``ROOT``. A span's self time is its duration minus the
    length of the union of its direct children's intervals, clipped to the
    span itself.
    """
    children: dict[int, list[tuple[int, int]]] = {}
    for name, s, e, p in spans:
        if p != ROOT:
            children.setdefault(p, []).append((s, e))
    out: dict[str, float] = {}
    for i, (name, s, e, p) in enumerate(spans):
        covered = 0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(i, ())):
            cs, ce = max(cs, s), min(ce, e)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[name] = out.get(name, 0.0) + (e - s - covered) / 1e9
    return out


def total_times(spans) -> dict[str, float]:
    """Total inclusive time in seconds per span name."""
    out: dict[str, float] = {}
    for name, s, e, _ in spans:
        out[name] = out.get(name, 0.0) + (e - s) / 1e9
    return out


def _wrap(rec: Recorder, name: str, fn, on_result=None, on_error=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = rec.open(name)
        try:
            result = fn(*args, **kwargs)
        except Exception:
            rec.close(idx)
            if on_error is not None:
                on_error()
            raise
        rec.close(idx)
        if on_result is not None:
            on_result(args, result)
        return result
    return wrapper


class TokenizerProxy:
    """Forwards to a real tokenizer, recording a span and a count for each
    ``count_tokens`` and ``_count_line_cached`` call (the chunker calls
    both), and how many distinct texts were counted."""

    def __init__(self, tokenizer, rec: Recorder) -> None:
        self._tok = tokenizer
        self._seen: set[int] = set()
        seen = self._seen

        def note(args, _result):
            rec.count("tokenizer.calls")
            seen.add(hash(args[0]))

        self.count_tokens = _wrap(rec, "tokenizer", tokenizer.count_tokens,
                                  note)
        self._count_line_cached = _wrap(rec, "tokenizer",
                                        tokenizer._count_line_cached, note)

    @property
    def distinct_texts(self) -> int:
        return len(self._seen)

    def __getattr__(self, name):
        return getattr(self._tok, name)


def instrument(rec: Recorder) -> callable:
    """Swap the fold's layer entry points for recording wrappers; returns
    the function that restores the originals."""
    from fast_pdf_parser_spark.operators import chunker
    from fast_pdf_parser_spark.sources import html_extractor, pdf_lexer

    def lexed(args, pages):
        rec.count("pdf_lexer.calls")
        rec.count("pdf_lexer.pages_out", len(pages))
        rec.count("pdf_lexer.bytes_in", len(args[0]))

    def lex_failed():
        rec.count("pdf_lexer.calls")
        rec.count("pdf_lexer.failures")
        rec.count("pdf_lexer.bytes_in", 0)

    def chunked(args, chunks):
        if len(args) > 1:  # push_page / push_lines carry a page
            rec.count("chunker.pages_in")
        rec.count("chunker.chunks_out", len(chunks))

    def classified(_args, _result):
        rec.count("classifier.calls")

    def html_done(_args, _result):
        rec.count("html_extractor.calls")

    def html_failed():
        rec.count("html_extractor.calls")
        rec.count("html_extractor.failures")

    patches = [
        (pdf_lexer, "extract_pdf_pages_lines", "pdf_lexer", lexed, lex_failed),
        (html_extractor, "html_main_content", "html_extractor", html_done,
         html_failed),
        (chunker, "detect_line_type", "classifier", classified, None),
        (chunker.StreamingChunker, "push_page", "chunker", chunked, None),
        (chunker.StreamingChunker, "push_lines", "chunker", chunked, None),
        (chunker.StreamingChunker, "finish", "chunker", chunked, None),
    ]
    saved = []
    for owner, attr, name, on_result, on_error in patches:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(rec, name, orig, on_result, on_error))

    def restore():
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
    return restore
