"""Seeded input generator for the benchmark.

Every workload input is built from the small tables in `fixtures/`
(documents, orders, supplier) with the structure-preserving replica
scheme of `scripts/make_sf1.py`:

- documents: replica k copies every fixture document under a fresh
  doc_id and weaves a tag token after every second token. The tag's
  suffix is a hash of the two tokens before it, so near-duplicate
  documents inside one replica keep matching tags, while every
  3-shingle that spans replicas differs. Near-dup pairs, spans and LSH
  candidates therefore grow linearly with the replica count. The tag
  spelling and the anchor hash both depend on the seed, so each seed
  gives different bytes with the same structure.
- orders / supplier: key-offset replicas; prices and balances get a
  seeded cent-level jitter.

The same (seed, scale) always writes byte-identical parquet files.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
TABLES = ("documents", "orders", "supplier")
LETTERS = "bcdfghjkmnpqrstvwxz"


def _fnv64(s, basis):
    h = basis
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _read(name, fraction=1.0):
    table = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))
    return table.slice(0, max(1, round(table.num_rows * fraction)))


def _documents(rng, replicas, fraction):
    docs = _read("documents", fraction).to_pydict()
    stride = max(docs["doc_id"]) + 1
    basis = 0xCBF29CE484222325 ^ rng.getrandbits(64)
    out = {k: [] for k in docs}
    for k in range(replicas):
        prefix = rng.choice(LETTERS) + rng.choice(LETTERS)
        for i, text in enumerate(docs["text"]):
            toks = text.split(" ")
            woven = []
            for j, t in enumerate(toks):
                woven.append(t)
                if j % 2 == 1:
                    anchor = _fnv64(toks[j - 1] + "\x1f" + t, basis) % 64
                    woven.append(f"{prefix}{k}g{anchor}")
            text2 = " ".join(woven)
            out["doc_id"].append(docs["doc_id"][i] + k * stride)
            out["text"].append(text2)
            out["lang"].append(docs["lang"][i])
            out["source"].append(docs["source"][i])
            out["n_chars"].append(len(text2))
    return out


def _replicate(name, rng, replicas, fraction, keys, jitter):
    table = _read(name, fraction)
    data = table.to_pydict()
    strides = {c: max(data[c]) + 1 for c in keys}
    out = {c: [] for c in data}
    for k in range(replicas):
        for c in data:
            if c in keys:
                out[c].extend(v + k * strides[c] for v in data[c])
            elif c == jitter:
                out[c].extend(round(v + rng.randint(-99, 99) / 100.0, 2)
                              for v in data[c])
            else:
                out[c].extend(data[c])
    return pa.table({c: pa.array(out[c], type=table.schema.field(c).type)
                     for c in data})


def generate(dst, seed, scale):
    """Write documents/orders/supplier parquet files for `seed` into `dst`.

    `scale` is the size relative to the fixtures: whole replicas above 1,
    the leading fraction of every fixture table below 1."""
    os.makedirs(dst, exist_ok=True)
    rng = random.Random(seed)
    replicas, fraction = (int(scale), 1.0) if scale >= 1 else (1, scale)
    docs = _documents(rng, replicas, fraction)
    schema = _read("documents").schema.remove_metadata()
    pq.write_table(pa.table(docs, schema=schema),
                   os.path.join(dst, "documents.parquet"))
    pq.write_table(_replicate("orders", rng, replicas, fraction,
                              ("o_orderkey", "o_custkey"), "o_totalprice"),
                   os.path.join(dst, "orders.parquet"))
    pq.write_table(_replicate("supplier", rng, replicas, fraction, ("s_suppkey",),
                              "s_acctbal"),
                   os.path.join(dst, "supplier.parquet"))
