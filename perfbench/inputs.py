"""Seeded benchmark inputs, generated with the repo's own synthetic corpus
generator and cached per (seed, shape) under the benchmark's cache dir.

Batch corpus: `generate_corpus` writes the normal-sized documents, the poison
file, the catalog and the dimension tables; a fixed number of heavy-tail
volumes (`HEAVY_PAGES` pages, ~11.5k spans each, above the job's 10k-span
`page_threshold`) is appended so every seed takes the explode/reassemble
branch of `with_ocr_skew_aware` the same number of times. The catalog and
dimension tables are then rewritten for the full id list.

Stream landing: span shards of normal-sized documents, a few documents per
file so the shipped `--max-files-per-trigger 8` yields several micro-batches,
plus the poison file. Part "a" is drained into a fresh output; part "b" lands
afterwards and is drained by the resumed query.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

import pyarrow.parquet as pq

HEAVY_PAGES = 5000


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int          # normal-sized documents
    n_heavy: int         # heavy-tail volumes (HEAVY_PAGES pages each)
    n_poison: int
    max_pages: int
    min_pages: int = 2

    def key(self) -> str:
        return "_".join(f"{k}{v}" for k, v in asdict(self).items())


@dataclass(frozen=True)
class LandingShape:
    n_docs_a: int        # drained into a fresh output
    n_docs_b: int        # lands later; drained by the resumed query
    docs_per_file: int
    n_poison: int
    max_pages: int
    min_pages: int = 2

    def key(self) -> str:
        return "_".join(f"{k}{v}" for k, v in asdict(self).items())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _doc_ids(n_docs: int, seed: int) -> list[str]:
    from index_search_monorepo_spark.sources.synthetic import _doc_id

    # the id draw is the first use of each per-doc RNG (synthetic.py)
    return [_doc_id(random.Random(f"{seed}:doc:{i}"), i)
            for i in range(n_docs)]


def _finish(tmp: Path, final: Path) -> Path:
    (tmp / "_DONE").touch()
    os.replace(tmp, final)
    return final


def batch_corpus(cache: Path, seed: int, shape: CorpusShape) -> Path:
    """Generate (or reuse) the batch corpus for (seed, shape)."""
    from index_search_monorepo_spark.sources import synthetic as syn

    final = cache / f"corpus_s{seed}_{shape.key()}"
    if (final / "_DONE").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    procs = nproc()
    syn.generate_corpus(
        tmp, n_docs=shape.n_docs, n_poison=shape.n_poison, seed=seed,
        # at most nproc generator processes
        chunk_docs=max(1, -(-shape.n_docs // procs)),
        min_pages=shape.min_pages, max_pages=shape.max_pages,
        skew_fraction=0.0,
    )
    if shape.n_heavy:
        heavy, mets = syn.make_documents_spans(
            shape.n_heavy, min_pages=shape.min_pages,
            max_pages=shape.max_pages, skew_fraction=1.0,
            skew_pages=HEAVY_PAGES, seed=seed, start=shape.n_docs,
        )
        pq.write_table(
            heavy,
            tmp / "documents_spans.parquet" / f"part-{shape.n_docs:08d}.parquet",
            row_group_size=1,
        )
        pq.write_table(
            mets, tmp / "mets_meta.parquet" / f"part-{shape.n_docs:08d}.parquet"
        )
        ids = _doc_ids(shape.n_docs + shape.n_heavy, seed)
        pq.write_table(syn.make_catalog(ids, seed=seed), tmp / "catalog.parquet")
        for name, tbl in syn.make_dims(ids, seed=seed).items():
            pq.write_table(tbl, tmp / f"{name}.parquet")
    return _finish(tmp, final)


def landing(cache: Path, seed: int, shape: LandingShape) -> Path:
    """Generate (or reuse) the stream landing shards for (seed, shape):
    `<dir>/a` (with the poison file) and `<dir>/b`."""
    from index_search_monorepo_spark.sources import synthetic as syn

    final = cache / f"landing_s{seed}_{shape.key()}"
    if (final / "_DONE").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    n = shape.n_docs_a + shape.n_docs_b
    docs, _mets = syn.make_documents_spans(
        n, min_pages=shape.min_pages, max_pages=shape.max_pages,
        skew_fraction=0.0, seed=seed,
    )
    for part, lo, hi in (("a", 0, shape.n_docs_a), ("b", shape.n_docs_a, n)):
        d = tmp / part
        d.mkdir(parents=True)
        for i in range(lo, hi, shape.docs_per_file):
            pq.write_table(
                docs.slice(i, min(shape.docs_per_file, hi - i)),
                d / f"part-{i:08d}.parquet", row_group_size=16,
            )
    pq.write_table(syn.make_poison_spans(shape.n_poison, seed=seed),
                   tmp / "a" / "part-poison.parquet")
    return _finish(tmp, final)


def read_spans(path: Path, doc_ids: set[str] | None = None) -> dict[str, list]:
    """{doc_id: spans} for the documents under a spans parquet file or
    directory, optionally only those in `doc_ids`."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(str(path), format="parquet").to_table(
        columns=["doc_id", "spans"]
    )
    out = {}
    for doc_id, spans in zip(tbl.column("doc_id").to_pylist(),
                             tbl.column("spans").to_pylist()):
        if doc_ids is None or doc_id in doc_ids:
            out[doc_id] = spans
    return out
