"""Output checks for every benchmark operation, read with pyarrow outside
Spark. Each check returns a list of problems; an empty list means the
operation's output is correct.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
from collections import Counter
from pathlib import Path

import pyarrow.dataset as ds

MANIFEST_DIR = "_checkpoints"
ERROR_KEY = ("service_name", "error_message", "ht_id")


def read_table(path: Path, columns: list[str] | None = None):
    return ds.dataset(str(path), format="parquet",
                      partitioning="hive").to_table(columns=columns)


def manifest_rows(out: Path) -> list[dict]:
    rows = []
    for f in sorted((out / MANIFEST_DIR).glob("*.json")):
        rows.extend(json.loads(f.read_text()))
    return rows


def row_digests(path: Path) -> Counter:
    """Multiset of per-row digests of a parquet dataset (all columns, in
    name order) — equal multisets mean exceptAll is empty both ways."""
    tbl = read_table(path)
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    return Counter(
        hashlib.blake2b(repr(row).encode(), digest_size=16).hexdigest()
        for row in zip(*cols)
    )


def error_keys(out: Path) -> Counter:
    """Error rows without their wall-clock timestamp."""
    path = out / "errors"
    if not path.exists():
        return Counter()
    tbl = read_table(path, columns=list(ERROR_KEY))
    return Counter(zip(*(tbl.column(c).to_pylist() for c in ERROR_KEY)))


def sample_ids(ids: list[str], k: int, seed: int, must: list[str]) -> list[str]:
    rng = random.Random(f"{seed}:sample")
    rest = sorted(set(ids) - set(must))
    return sorted(set(must) | set(rng.sample(rest, min(k, len(rest)))))


def check_fresh(out: Path, expect: dict, spans: dict[str, list], job: dict) -> list[str]:
    """A fresh batch run: manifest, data and error counts equal the
    generator's, and the sampled `ocr` values equal oracle_ocr."""
    from index_search_monorepo_spark.oracle.reference_oracle import oracle_ocr

    problems = []
    rows = manifest_rows(out)
    n_manifest = sum(r["n_docs"] for r in rows)
    spans_manifest = sum(r["span_count"] for r in rows)
    if (n_manifest, spans_manifest) != (expect["docs"], expect["spans"]):
        problems.append(f"manifest docs/spans {n_manifest}/{spans_manifest} "
                        f"!= {expect['docs']}/{expect['spans']}")
    if (job.get("n_docs"), job.get("span_count")) != (expect["docs"], expect["spans"]):
        problems.append(f"job reported {job.get('n_docs')}/{job.get('span_count')}")
    data = read_table(out / "data", columns=["id", "ocr", "span_count"])
    if data.num_rows != expect["docs"]:
        problems.append(f"data rows {data.num_rows} != {expect['docs']}")
    total = sum(data.column("span_count").to_pylist())
    if total != expect["spans"]:
        problems.append(f"data span_count sum {total} != {expect['spans']}")
    n_err = sum(error_keys(out).values())
    if n_err != expect["poison"]:
        problems.append(f"error rows {n_err} != {expect['poison']}")
    ocr = dict(zip(data.column("id").to_pylist(), data.column("ocr").to_pylist()))
    for doc_id, doc_spans in spans.items():
        if ocr.get(doc_id) != oracle_ocr(doc_spans):
            problems.append(f"ocr of {doc_id} differs from oracle_ocr")
    return problems


def inject_resume(out: Path, seed: int, span_threshold: int | None = None) -> dict:
    """Drop the manifest rows and data partitions of half the completed
    buckets, as a run that stopped half way would leave them. The buckets
    holding documents with more than `span_threshold` spans are always
    among them, so every seed's resume re-writes its heavy-tail volumes;
    the rest are chosen by seed. Returns the dropped buckets and their
    document count."""
    rows = manifest_rows(out)
    buckets = sorted({r["bucket"] for r in rows if r["status"] == "completed"})
    drop = set()
    if span_threshold is not None:
        data = read_table(out / "data", columns=["span_count", "bucket"])
        drop = {b for b, n in zip(data.column("bucket").to_pylist(),
                                  data.column("span_count").to_pylist())
                if n > span_threshold}
    rng = random.Random(f"{seed}:resume")
    rest = [b for b in buckets if b not in drop]
    drop |= set(rng.sample(rest, max(0, len(buckets) // 2 - len(drop))))
    for f in sorted((out / MANIFEST_DIR).glob("*.json")):
        kept = [r for r in json.loads(f.read_text()) if r["bucket"] not in drop]
        f.write_text(json.dumps(kept))
    for b in drop:
        shutil.rmtree(out / "data" / f"bucket={b}", ignore_errors=True)
    return {
        "buckets": sorted(drop),
        "docs": sum(r["n_docs"] for r in rows if r["bucket"] in drop),
    }


def check_resume(out: Path, expect: dict, fresh_data: Counter,
                 fresh_errors: Counter, dropped: dict, job: dict) -> list[str]:
    """A resume after inject_resume: data equals the fresh run's, error
    rows equal one clean run's, and the run wrote exactly the dropped
    buckets' documents."""
    problems = []
    if row_digests(out / "data") != fresh_data:
        problems.append("resumed data differs from the fresh run's")
    errs = error_keys(out)
    if errs != fresh_errors:
        problems.append(f"error rows {sum(errs.values())} after resume, "
                        f"{sum(fresh_errors.values())} in one clean run")
    if job.get("n_docs") != dropped["docs"]:
        problems.append(f"resume wrote {job.get('n_docs')} docs, "
                        f"{dropped['docs']} were dropped")
    latest: dict[int, dict] = {}
    for r in manifest_rows(out):
        latest[r["bucket"]] = r
    if sum(r["n_docs"] for r in latest.values()) != expect["docs"]:
        problems.append("manifest does not cover every document after resume")
    return problems


def check_stream(out: Path, landed: dict[str, list], n_poison: int,
                 sample: list[str]) -> list[str]:
    """Extracted rows plus error rows equal the landed documents, and the
    sampled extracted_spans equal oracle_extracted_spans."""
    from index_search_monorepo_spark.oracle.reference_oracle import (
        oracle_extracted_spans,
    )

    problems = []
    tbl = read_table(out / "extracted", columns=["doc_id", "extracted_spans"])
    ids = tbl.column("doc_id").to_pylist()
    n_err = sum(error_keys(out).values())
    if len(ids) != len(landed) or len(set(ids)) != len(ids):
        problems.append(f"extracted {len(ids)} rows ({len(set(ids))} distinct) "
                        f"for {len(landed)} landed docs")
    if n_err != n_poison:
        problems.append(f"error rows {n_err} != {n_poison}")
    got = dict(zip(ids, tbl.column("extracted_spans").to_pylist()))
    for doc_id in sample:
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in got.get(doc_id) or []]
        if spans != oracle_extracted_spans(landed[doc_id]):
            problems.append(f"extracted_spans of {doc_id} differ from the oracle")
    return problems
