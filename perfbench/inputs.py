"""Benchmark inputs: deterministic from (workload family, seed, scale).

Run as a script, it generates one input directory; ``ensure`` calls it in
a separate process so that no Spark worker or kernel-trace process ever
shares a key-derivation cache with the generator.  Generation is untimed.

Families:

- ``armored`` (used by the ``armored`` and ``staged`` workloads): the
  ASCII-armored synth family, ``synth.build_document`` per doc, with
  ground truth ``synth.expected_spans``.
- ``encrypted``: ``core.writer.write_pdf`` over ``synth.expected_spans``,
  each document under its own encryption seed (so its own salts and file
  key): plain and RC4 documents, and AES-256 (V5/R6) at every 20th
  position of a timed pass.  Ground truth is the written spans minus empty
  text spans.  Writing an R6 document costs four Algorithm 2.B hashes, so
  the AES-256 documents come from a pool built once per scale; the seed
  picks which pool documents a run uses (no document appears twice in a
  run, so no process sees a (password, salt) pair twice).

Each set is one parquet file with columns ``doc_id``, ``spans`` (the
``documents_raw`` shape) and ``expected`` (JSON ground truth).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# the word list and per-document word counts (10..100, uniform) of the
# sf0.1 `documents` table that the synth families were designed around
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

AES_EVERY = 20  # one AES-256 document per 20 in every timed encrypted pass
SETUPS = 3  # set-ups per timed run; each gets its own warm-up set
ENC_PASS_S = 1.6  # rough seconds per encrypted pass on a 4-core host

SCALES = {
    # corpus: armored docs per timed pass; warm: docs per warm-up set;
    # enc_pass: docs per encrypted pass (a multiple of AES_EVERY);
    # aes_pool: AES-256 documents to draw the passes' share from
    "full": {"corpus": 4000, "warm": 400, "enc_warm": 80, "enc_pass": 160, "aes_pool": 256},
    "tiny": {"corpus": 120, "warm": 40, "enc_warm": 20, "enc_pass": 40, "aes_pool": 16},
}

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
        ("expected", pa.string()),
    ]
)


def encrypted_passes(seconds: float) -> int:
    """A multiple of SETUPS, so every timed session gets as many sets."""
    return SETUPS * max(1, math.ceil(seconds / (ENC_PASS_S * SETUPS)))


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def pool_plan(scale: str) -> list:
    """The AES-256 pool: doc_ids above the per-seed range, so never shared."""
    rng = random.Random(f"aes-pool/{scale}")
    ids = rng.sample(range(1_000_000, 2_000_000), SCALES[scale]["aes_pool"])
    return [(doc_id, _text(rng), "aes256") for doc_id in ids]


def plan(family: str, seed: int, scale: str, seconds: float) -> dict:
    """{set name: [(doc_id, text, encrypt mode or None), ...]} — all doc_ids
    distinct.  An AES-256 slot is ``(pool index, None, "pool")``."""
    sc = SCALES[scale]
    if family == "armored":
        sizes = {f"warm{k}": sc["warm"] for k in range(SETUPS)} | {"corpus": sc["corpus"]}
    else:
        sizes = {f"warm{k}": sc["enc_warm"] for k in range(SETUPS)}
        sizes |= {f"pass{p}": sc["enc_pass"] for p in range(encrypted_passes(seconds))}
    rng = random.Random(f"{family}/{seed}")
    ids = iter(rng.sample(range(1_000_000), sum(sizes.values())))
    n_aes = sum(n // AES_EVERY for name, n in sizes.items() if name.startswith("pass"))
    pool = iter(rng.sample(range(sc["aes_pool"]), n_aes))
    sets = {}
    for name, n in sizes.items():
        docs = []
        for i in range(n):
            doc_id, text = next(ids), _text(rng)
            if family == "armored":
                docs.append((doc_id, text, None))
            elif name.startswith("pass") and i % AES_EVERY == AES_EVERY - 1:
                docs.append((next(pool), None, "pool"))
            else:
                docs.append((doc_id, text, rng.choice((None, "rc4"))))
        sets[name] = docs
    return sets


def _enc_seed(doc_id: int) -> bytes:
    return b"perfbench/%d" % doc_id


def _prime_r6_keys(docs) -> None:
    """Precompute the writer's Algorithm 2.B hashes for this chunk's AES-256
    documents in one lane-parallel batch (the scalar path costs ~0.5 s per
    call).  The salts follow ``writer._EncState``; if they ever stop
    matching, ``write_pdf`` just computes them itself."""
    from pdfparser_spark.core import crypt

    batch = getattr(crypt, "hash_2b_batch", None)
    seeds = [_enc_seed(d) for d, _t, mode in docs if mode == "aes256"]
    if batch is None or not seeds:
        return

    def salt(seed: bytes, tag: bytes) -> bytes:
        return hashlib.md5(seed + tag).digest()[:8]

    vs = batch([(b"", salt(s, t), b"") for s in seeds for t in (b"/vs", b"/ks")])[0::2]
    udata = [h + salt(s, b"/vs") + salt(s, b"/ks") for h, s in zip(vs, seeds)]
    batch([(b"-owner", salt(s, t), u) for s, u in zip(seeds, udata) for t in (b"/ovs", b"/oks")])


def build_chunk(family: str, docs: list) -> list:
    """-> rows (doc_id, spans, expected_json) in input order."""
    from pdfparser_spark import synth
    from pdfparser_spark.core import writer

    rows = []
    if family == "armored":
        for doc_id, text, _mode in docs:
            spans = synth.build_document(doc_id, text)["span_rows"]
            rows.append((doc_id, spans, json.dumps(synth.expected_spans(doc_id, text))))
        return rows
    _prime_r6_keys(docs)
    for doc_id, text, mode in docs:
        truth = synth.expected_spans(doc_id, text)
        enc = {"mode": mode, "user_pwd": b"", "seed": _enc_seed(doc_id)} if mode else None
        pdf = writer.write_pdf(truth, encrypt=enc)
        spans = [{"kind": "struct", "text": pdf.decode("latin-1"), "media_ref": None, "offset": 0}]
        expected = [s for s in truth if not (s[0] == "text" and not s[1])]
        rows.append((doc_id, spans, json.dumps(expected)))
    return rows


def _build_sets(family: str, sets: dict, procs: int, pool_rows: list | None = None) -> dict:
    """{set name: rows}; pool slots are filled from ``pool_rows``."""
    # interleave each set over the workers so AES documents spread evenly
    todo = {name: [d for d in docs if d[2] != "pool"] for name, docs in sets.items()}
    jobs = [(family, docs[w::procs]) for docs in todo.values() for w in range(procs)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.starmap(build_chunk, jobs)
    out = {}
    for s, (name, docs) in enumerate(sets.items()):
        built = [None] * len(todo[name])
        for w in range(procs):
            built[w::procs] = parts[s * procs + w]
        built = iter(built)
        out[name] = [pool_rows[d[0]] if d[2] == "pool" else next(built) for d in docs]
    return out


def _write_sets(out_dir: str, sets: dict) -> None:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, rows in sets.items():
        table = pa.Table.from_pylist(
            [{"doc_id": d, "spans": sp, "expected": e} for d, sp, e in rows], schema=SCHEMA
        )
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


def generate(family: str, seed: int, scale: str, seconds: float, out_dir: str, procs: int) -> None:
    if family == "aes-pool":
        _write_sets(out_dir, _build_sets("encrypted", {"pool": pool_plan(scale)}, procs))
        return
    pool_rows = None
    if family == "encrypted":
        t = load(_pool_dir(os.path.dirname(out_dir), scale), "pool")
        pool_rows = list(zip(*(t.column(c).to_pylist() for c in ("doc_id", "spans", "expected"))))
    _write_sets(out_dir, _build_sets(family, plan(family, seed, scale, seconds), procs, pool_rows))


def _pool_dir(inputs_dir: str, scale: str) -> str:
    return os.path.join(inputs_dir, f"aes-pool-{scale}")


def _generate_in_child(root: str, family: str, seed: int, scale: str, seconds: float, out: str, procs: int) -> None:
    if os.path.isdir(out):
        return
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cmd = [sys.executable, os.path.abspath(__file__), family, str(seed), scale, str(seconds), out, str(procs)]
    subprocess.run(cmd, check=True, env=dict(os.environ, PYTHONPATH=root), cwd=root)


def ensure(root: str, state: str, family: str, seed: int, scale: str, seconds: float, procs: int) -> str:
    """Directory holding the inputs, generated in a child process if absent."""
    inputs_dir = os.path.join(state, "inputs")
    key = f"{family}-seed{seed}-{scale}"
    if family == "encrypted":
        key += f"-p{encrypted_passes(seconds)}"
        _generate_in_child(root, "aes-pool", 0, scale, 0, _pool_dir(inputs_dir, scale), procs)
    out = os.path.join(inputs_dir, key)
    _generate_in_child(root, family, seed, scale, seconds, out, procs)
    return out


def load(in_dir: str, name: str) -> pa.Table:
    return pq.read_table(os.path.join(in_dir, f"{name}.parquet"))


def spark_parts(in_dir: str, name: str, n: int) -> list[str]:
    """The set's documents_raw columns as ``n`` contiguous parquet files, so
    a Spark scan of each gives one partition per task slot with no exchange
    (and tasks that carry no data, unlike a local relation)."""
    out = os.path.join(in_dir, f"parts{n}", name)
    if not os.path.isdir(out):
        table = load(in_dir, name).select(["doc_id", "spans"])
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for i in range(n):
            lo, hi = table.num_rows * i // n, table.num_rows * (i + 1) // n
            pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part{i:03d}.parquet"))
        os.rename(tmp, out)
    return [os.path.join(out, f) for f in sorted(os.listdir(out))]


def set_names(in_dir: str, prefix: str) -> list[str]:
    names = [f[: -len(".parquet")] for f in os.listdir(in_dir) if f.startswith(prefix) and f.endswith(".parquet")]
    return sorted(names, key=lambda n: int(n[len(prefix) :] or 0))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("family", choices=("armored", "encrypted", "aes-pool"))
    ap.add_argument("seed", type=int)
    ap.add_argument("scale", choices=tuple(SCALES))
    ap.add_argument("seconds", type=float)
    ap.add_argument("out_dir")
    ap.add_argument("procs", type=int)
    a = ap.parse_args()
    generate(a.family, a.seed, a.scale, a.seconds, a.out_dir, a.procs)
