"""Run the extraction kernel over benchmark inputs in one fresh process.

With ``--trace 1`` it first installs wrappers, from outside the program,
around the functions ``core/extract.py`` calls, and records one span per
call: name, start, end, parent span and doc_id.  Spans stay in memory and
are written out at the end, with a summary of self time per layer (a span's
duration minus the time its child spans cover).  With ``--trace 0`` it
times each document and nothing else; the two runs over the same documents
give the tracing overhead.

Usage: kernel_trace.py --inputs DIR --sets NAME... --limit N --trace 0|1 --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

# span name -> layer; the names are module attributes of core/extract.py
# unless qualified
LAYERS = {
    "extract_spans": "core.extract",
    "sniff_version": "core.xref",
    "read_xref": "core.xref",
    "parse_all_objects": "core.xref",
    "Tokenizer.parse_indirect_at": "core.tokenizer",
    "_build_decryptor": "core.crypt",
    "_apply_decryption": "core.crypt",
    "crypt.hash_2b": "core.crypt",
    "decode_doc_streams": "core.filters",
    "_walk_pages": "core.content",
    "_page_content_bytes": "core.content",
    "_content_events": "core.content",
    "_font_decoder": "core.cmap",
    "cmap.decode": "core.cmap",
}


class Tracer:
    """Span recorder plus the counters that only a wrapper can see: Algorithm
    2.B calls and cache hits, and the objects reached by reference."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent, doc_id]
        self._stack: list[int] = []
        self.doc_id = -1
        self.kdf_calls = 0
        self.kdf_hits = 0
        self.used: set = set()
        self.missing: list[str] = []
        self._restore: list = []

    def _enter(self, name: str) -> int:
        i = len(self.spans)
        self.spans.append([name, time.perf_counter_ns(), 0, self._stack[-1] if self._stack else -1, self.doc_id])
        self._stack.append(i)
        return i

    def _leave(self, i: int) -> None:
        self.spans[i][2] = time.perf_counter_ns()
        self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*a, **k):
            i = self._enter(name)
            try:
                return fn(*a, **k)
            finally:
                self._leave(i)

        return traced

    def wrap_gen(self, name: str, fn):
        """Spans cover the time inside ``next()`` only, not the consumer's."""

        def traced(*a, **k):
            it = fn(*a, **k)
            while True:
                i = self._enter(name)
                try:
                    ev = next(it)
                except StopIteration:
                    return
                finally:
                    self._leave(i)
                yield ev

        return traced

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            self.missing.append(attr)
            return
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from pdfparser_spark.core import crypt, extract, objects
        from pdfparser_spark.core.tokenizer import Tokenizer

        for name in ("sniff_version", "read_xref", "parse_all_objects", "_build_decryptor",
                     "_apply_decryption", "decode_doc_streams", "_walk_pages", "_page_content_bytes"):
            self._patch(extract, name, lambda f, n=name: self.wrap(n, f))
        self._patch(extract, "_content_events", lambda f: self.wrap_gen("_content_events", f))

        def font_decoder(f):
            traced = self.wrap("_font_decoder", f)
            return lambda *a, **k: self.wrap("cmap.decode", traced(*a, **k))

        self._patch(extract, "_font_decoder", font_decoder)
        self._patch(Tokenizer, "parse_indirect_at", lambda f: self.wrap("Tokenizer.parse_indirect_at", f))

        def hash_2b(f):
            traced = self.wrap("crypt.hash_2b", f)

            def counted(pwd, salt, udata=b""):
                self.kdf_calls += 1
                self.kdf_hits += (pwd, salt, udata) in getattr(crypt, "_HASH2B_CACHE", {})
                return traced(pwd, salt, udata)

            return counted

        self._patch(crypt, "hash_2b", hash_2b)

        ref = objects.Ref

        def resolve(f):
            def counted(value, *a, **k):
                if isinstance(value, ref):
                    self.used.add((value.obj_id, value.gen))
                return f(value, *a, **k)

            return counted

        def get_resolved(f):
            def counted(d, key, *a, **k):
                if isinstance(d, dict) and isinstance(d.get(key), ref):
                    v = d[key]
                    self.used.add((v.obj_id, v.gen))
                return f(d, key, *a, **k)

            return counted

        self._patch(extract, "resolve", resolve)
        self._patch(extract, "get_resolved", get_resolved)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def self_ms_by_layer(self) -> tuple[dict, float]:
        """({layer: summed self time in ms}, summed extract_spans time in ms)."""
        child = [0] * len(self.spans)
        for name, t0, t1, parent, _doc in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out = {layer: 0.0 for layer in set(LAYERS.values())}
        root = 0
        for (name, t0, t1, _p, _doc), c in zip(self.spans, child):
            out[LAYERS[name]] += (t1 - t0 - c) / 1e6
            if name == "extract_spans":
                root += t1 - t0
        return out, root / 1e6

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            f.write("name\tstart_ns\tend_ns\tparent\tdoc_id\n")
            for s in self.spans:
                f.write("\t".join(map(str, s)) + "\n")


def load_docs(in_dir: str, sets: list[str], limit: int) -> list[tuple[int, bytes, list]]:
    """(doc_id, document bytes, expected spans) — bytes rebuilt from the
    span rows exactly as the fused adapter does (text pieces by offset)."""
    import pyarrow.parquet as pq

    docs = []
    for name in sets:
        for row in pq.read_table(os.path.join(in_dir, f"{name}.parquet")).to_pylist():
            parts = sorted((s for s in row["spans"] if s["text"] is not None), key=lambda s: s["offset"])
            data = "".join(s["text"] for s in parts).encode("latin-1")
            docs.append((row["doc_id"], data, [tuple(s) for s in json.loads(row["expected"])]))
    return docs[:limit]


def run(docs: list, tracer: Tracer | None) -> dict:
    from pdfparser_spark.core.extract import extract_spans

    if tracer is not None:
        tracer.install()
        extract_spans = tracer.wrap("extract_spans", extract_spans)
    per_doc_ms, failed_ids = [], []
    n_obj = n_pages = n_streams = n_errors = n_used = 0
    t_start = time.perf_counter()
    for doc_id, data, expected in docs:
        if tracer is not None:
            tracer.doc_id = doc_id
            tracer.used = set()
        t0 = time.perf_counter_ns()
        res = extract_spans(data)
        per_doc_ms.append((time.perf_counter_ns() - t0) / 1e6)
        if res["spans"] != expected:
            failed_ids.append(doc_id)
        n_obj += res["n_objects"]
        n_pages += res["n_pages"]
        n_streams += res["n_streams"]
        n_errors += len(res["errors"])
        if tracer is not None:
            n_used += min(len(tracer.used), res["n_objects"])
    wall = time.perf_counter() - t_start
    if tracer is not None:
        tracer.uninstall()
    n = len(docs)
    q = statistics.quantiles(per_doc_ms, n=100)
    out = {
        "docs": n,
        "wall_s": wall,
        "failed_ids": failed_ids,
        "kernel_ms_p50": statistics.median(per_doc_ms),
        "kernel_ms_p99": q[98],
        "kernel_ms_mean": sum(per_doc_ms) / n,
        "objects_per_doc": n_obj / n,
        "pages_per_doc": n_pages / n,
        "streams_per_doc": n_streams / n,
        "error_rows_per_doc": n_errors / n,
    }
    if tracer is not None:
        self_ms, root_ms = tracer.self_ms_by_layer()
        out |= {
            "self_ms_per_doc": {k: v / n for k, v in self_ms.items()},
            "phase_coverage": 1 - self_ms["core.extract"] / root_ms if root_ms else 0.0,
            "kdf_calls": tracer.kdf_calls,
            "kdf_hits": tracer.kdf_hits,
            "objects_used_frac": n_used / n_obj if n_obj else 0.0,
            "spans": len(tracer.spans),
            "missing_wrappers": tracer.missing,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="kernel span trace over benchmark inputs")
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--sets", nargs="+", required=True)
    ap.add_argument("--limit", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out")
    a = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    docs = load_docs(a.inputs, a.sets, a.limit)
    tracer = Tracer() if a.trace else None
    summary = run(docs, tracer)
    if tracer is not None and a.spans_out:
        tracer.write_spans(a.spans_out)
    with open(a.out, "w") as f:
        json.dump(summary, f)


if __name__ == "__main__":
    main()
