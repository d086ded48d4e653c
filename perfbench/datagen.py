"""Seeded benchmark inputs.

Everything the program reads during a benchmark run is generated here
from the workload seed, so the same seed always yields byte-identical
inputs and the program never sees anything but these files:

- :func:`make_documents` — a ``documents`` table drawn from the same
  model as the engine's sf0.1 ``documents`` fixture (FIXTURES.md §1),
  which lives outside the benchmark's checkout: bag-of-words texts over
  the same 30-word vocabulary, one in twenty a near-duplicate of
  another (perfbench/README.md compares their pairs and LSH buckets).
- :func:`write_stacks` — synthetic microscopy stacks in the
  ``T,C,Z,Y,X;`` header format ``arraylib.decode.synthetic_decoder``
  reads. Their voxel values derive from the shape alone, so the seed
  picks the file names (and the payload bytes the decoder ignores); the
  shapes stay fixed, because the synthetic values repeat with the
  array's extents and a seeded shape would swing the compressed size
  per voxel by a tenth or more from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def make_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """``n_docs`` bag-of-words documents (10-100 tokens from a 30-word
    vocabulary); one in twenty is a near-duplicate of another document
    with a trailing ``dup`` token, so minhash probes find real pairs."""
    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), int(n))])
        for n in rng.integers(10, 101, n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)].tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_stacks(out_dir: str, seed: int, shapes: list[tuple[int, ...]]) -> list[str]:
    """One ``<name>(<n>).czi`` file per shape with a ``T,C,Z,Y,X;`` header
    (the rest of the payload is ignored by the synthetic decoder)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    names = []
    for i, shape in enumerate(shapes):
        name = f"{488 + 73 * int(rng.integers(0, 4))}_stack({i}).czi"
        header = ",".join(str(s) for s in shape).encode() + b";"
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(header + rng.bytes(64))
        names.append(name)
    return names
