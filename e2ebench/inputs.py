"""Seeded inputs for the three workloads.

Everything here is pure Python/pyarrow: the program under test only ever
sees the parquet files these functions write.

Document ids are decimal strings. Ids of the ``pptx_slides`` fixture class
are even and every other class is odd, so the chunk-strategy dispatch can be
read off the id: the program's own ``CHUNK_DISPATCH_SQL`` oracle routes even
ids to page chunking and odd ids to markdown chunking, and the benchmark
gives the engine ``file_type = 'pptx'`` for even ids and ``'pdf'`` for odd.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gpt4ocontentextraction_spark import fixtures

PAGE_CLASS = "pptx_slides"

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
SPANS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.field("item", _SPAN, nullable=False)),
                 nullable=False),
    ]
)


def write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as a directory of ``n_files`` parquet files. More
    files than cores gives each scan stage more tasks than cores, so a core
    the hypervisor stalls delays its share of the tasks, not the stage."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


class Corpus:
    """The full fixture corpus (all classes, one giant doc) for one seed."""

    def __init__(self, seed: int, docs_per_class: int):
        docs, expected = fixtures.make_corpus(
            seed=seed, docs_per_class=docs_per_class
        )
        classes = [d.rsplit("-", 1)[0] for d in docs["doc_id"]]
        ids = [
            str(2 * i + (0 if c == PAGE_CLASS else 1))
            for i, c in enumerate(classes)
        ]
        self.doc_ids = ids
        self.spans = list(docs["spans"])
        self.expected = list(expected["spans"])
        self.n_docs = len(ids)
        self.n_spans = sum(len(s) for s in self.spans)

    def table(self) -> pa.Table:
        return pa.Table.from_pydict(
            {"doc_id": self.doc_ids, "spans": self.spans}, schema=SPANS_SCHEMA
        )

    def expected_table(self) -> pa.Table:
        """The fixture generator's own expected output spans."""
        return pa.Table.from_pydict(
            {"doc_id": self.doc_ids, "spans": self.expected},
            schema=SPANS_SCHEMA,
        )


# Query corpus: the flat sf-dir layout the retrieval operators read
# (documents: doc_id bigint, text, lang, source, n_chars; embeddings:
# vec_id bigint, embedding array<float>, label int).
_VOCAB = (
    "a the table data merge spark query join filter group order sort scan "
    "hash key row column value window stream batch vector part line fast "
    "slow big small agg customer"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
EMB_DIMS = 64
EMB_CLUSTERS = 10


def write_query_corpus(
    seed: int, n_docs: int, n_emb: int, out_dir: str, n_files: int
) -> list[int]:
    """Write documents.parquet (as ``n_files`` parts) + embeddings.parquet;
    return the vec_ids."""
    rng = random.Random(f"query/{seed}")
    # Zipf-like word weights: the three query keywords get ordinary ranks,
    # so BM25 scores spread and ties stay rare.
    weights = [1.0 / (r + 1) for r in range(len(_VOCAB))]
    texts = [
        " ".join(rng.choices(_VOCAB, weights, k=rng.randint(8, 100)))
        for _ in range(n_docs)
    ]
    write_parts(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
        n_files,
    )
    g = np.random.default_rng(seed)
    centers = g.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIMS))
    labels = g.integers(0, EMB_CLUSTERS, n_emb)
    vecs = (centers[labels] + g.normal(0.0, 0.6, (n_emb, EMB_DIMS))) * 0.1
    vec_ids = sorted(g.choice(n_docs, n_emb, replace=False).tolist())
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids, pa.int64()),
                "embedding": pa.array(
                    list(vecs.astype(np.float32)), pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return vec_ids
