"""The `llm_curation` input: the base corpus (`documents`, `embeddings`)
copied `copies` times, each copy made unlike the others while the duplicate
structure inside it is kept.

- text: copy i > 0 maps the 26 letters (both cases) through its own seeded
  permutation, so shingles of different copies do not collide;
- embeddings: copy i > 0 permutes the dimensions and flips their signs with
  its own seeded signed permutation. That map is orthogonal, so cosine
  similarity inside a copy is unchanged and copies point in unrelated
  directions;
- ids: copy i adds i * 10^9, as graft.ScaleUp does.

Copy 0 is the base corpus unchanged. Each table is written as a directory
with one parquet file per copy. The other tables are linked from the base
directory, so every operation and its oracle read one input directory.
Same seed and copies, same bytes.
"""
import os
import random
import string
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIFT = 1_000_000_000


def letter_permutation(seed, copy):
    letters = list(string.ascii_lowercase)
    if copy > 0:
        random.Random(seed * 7919 + copy).shuffle(letters)
    return "".join(letters)


def signed_permutation(seed, copy, dims):
    if copy == 0:
        return np.arange(dims), np.ones(dims, dtype=np.float32)
    rng = np.random.default_rng([seed, copy])
    return rng.permutation(dims), np.where(rng.random(dims) < 0.5, -1.0, 1.0).astype(np.float32)


def _copy_docs(docs, seed, i):
    p = letter_permutation(seed, i)
    table = str.maketrans(string.ascii_lowercase + string.ascii_uppercase, p + p.upper())
    text = [t.translate(table) if t is not None else None for t in docs["text"].to_pylist()]
    return docs.set_column(0, "doc_id", pc.add(docs["doc_id"], i * SHIFT)) \
               .set_column(1, "text", pa.array(text, pa.string()))


def _copy_vecs(vecs, seed, i):
    emb = vecs["embedding"].combine_chunks()
    dims = len(emb[0])
    flat = emb.flatten().to_numpy(zero_copy_only=False).reshape(len(emb), dims)
    perm, sign = signed_permutation(seed, i, dims)
    out = (flat[:, perm] * sign).astype(np.float32)
    arr = pa.ListArray.from_arrays(np.arange(0, out.size + 1, dims, dtype=np.int32),
                                   pa.array(out.ravel(), pa.float32()))
    return vecs.set_column(0, "vec_id", pc.add(vecs["vec_id"], i * SHIFT)) \
               .set_column(1, "embedding", arr.cast(vecs.schema.field("embedding").type))


def write(base_dir, out_dir, copies, seed):
    base, out = Path(base_dir), Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    docs = pq.read_table(base / "documents.parquet")
    vecs = pq.read_table(base / "embeddings.parquet")
    for name, table, fn in [("documents", docs, _copy_docs), ("embeddings", vecs, _copy_vecs)]:
        d = out / f"{name}.parquet"
        d.mkdir()
        for i in range(copies):
            pq.write_table(fn(table, seed, i), d / f"part-{i:05d}.parquet")
    for f in sorted(base.glob("*.parquet")):
        if f.name not in ("documents.parquet", "embeddings.parquet"):
            os.symlink(f.resolve(), out / f.name)
    return out
