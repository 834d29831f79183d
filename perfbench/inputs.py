"""Seeded, pinned benchmark inputs.

Each seed selects a disjoint ``doc_id`` window of ``corpus.gen_doc``:
``[s * WINDOW, s * WINDOW + size)`` with ``s = seed mod MAX_SEED``.
``WINDOW`` is a multiple of the generator's 100-slot page-class wheel and of
its 5-way language cycle, so every seed gets the same page-class and
language mix and only the page contents (words, hosts, spam phrases, noise)
differ between seeds.

Inputs are written once per (seed, size) into the benchmark's cache, as
``FILES`` parquet part files: ``corpus/`` holds the program's input
columns, ``labels.json`` the generator's ground truth, ``bench/`` the
decontamination reference set (pages from a second disjoint window).
``manifest.json`` records a content digest of the generated rows plus the
input's shape (doc count, bytes, page-class mix, hot-host share, largest
spam-template group).

"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

WINDOW = 1_000_000          # doc ids per seed; multiple of 100 and 5
BENCH_OFFSET = 900_000      # decontamination set: same window, far end,
BENCH_STRIDE = 37           # every 37th id, so it spans all page classes
BENCH_DOCS = 64
FILES = 8                   # part files; Spark packs them into one split per core
CANARY_IDS = range(100)     # one full page-class wheel
MAX_SEED = 9_000            # gen_doc urls carry a 10-digit doc id: seeds wrap

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "pinned.json")


def load_pinned() -> dict:
    with open(PINNED) as f:
        return json.load(f)


def _row_digest(h, d: dict) -> None:
    for k in ("url", "text", "lang", "page_class"):
        h.update(d[k].encode("utf-8"))
        h.update(b"\x00")
    h.update(d["html"])
    h.update(d["warc_ts"].isoformat().encode())
    h.update(b"\x01" if d["expected_keep"] else b"\x00")


def canary_digest() -> str:
    """Digest of the generator over a fixed id window, independent of the
    seed: an edit to corpus.py changes it for every seed."""
    from fingerprint_spark.corpus import gen_doc

    h = hashlib.sha256()
    for i in CANARY_IDS:
        _row_digest(h, gen_doc(i))
    return h.hexdigest()


def input_dir(cache: str, seed: int, size: int) -> str:
    return os.path.join(cache, f"seed{seed}_n{size}")


def _write_parts(rows: list[dict], path: str, cols: list[str]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    total = 0
    n_files = min(FILES, len(rows))
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.Table.from_pylist([{c: r[c] for c in cols} for r in part])
        out = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(table, out)
        total += os.path.getsize(out)
    return total


def generate(cache: str, seed: int, size: int) -> dict:
    from fingerprint_spark.corpus import HOSTS, INPUT_COLS, SPAM_PHRASES, gen_doc

    base = (seed % MAX_SEED) * WINDOW
    rows = [gen_doc(base + i) for i in range(size)]
    bench = [gen_doc(base + BENCH_OFFSET + BENCH_STRIDE * i) for i in range(BENCH_DOCS)]
    h = hashlib.sha256()
    for d in rows + bench:
        _row_digest(h, d)

    final = input_dir(cache, seed, size)
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    corpus_bytes = _write_parts(rows, os.path.join(tmp, "corpus"), INPUT_COLS)
    _write_parts(bench, os.path.join(tmp, "bench"), ["url", "text"])
    with open(os.path.join(tmp, "labels.json"), "w") as f:
        json.dump(
            {d["url"]: [d["page_class"], d["expected_keep"]] for d in rows}, f
        )
    spam = Counter(
        p for d in rows if d["page_class"] == "spam"
        for p in SPAM_PHRASES if p.title() in d["text"]
    )
    manifest = {
        "seed": seed,
        "size": size,
        "digest": h.hexdigest(),
        "docs": size,
        "corpus_bytes": corpus_bytes,
        "html_bytes": sum(len(d["html"]) for d in rows),
        "page_class_mix": dict(sorted(Counter(d["page_class"] for d in rows).items())),
        "hot_host_share": round(
            sum(d["url"].startswith(f"https://{HOSTS[0]}/") for d in rows) / size, 4
        ),
        "largest_spam_template_group": max(spam.values(), default=0),
        "expected_keep": sum(d["expected_keep"] for d in rows),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return manifest


def ensure(cache: str, seed: int, size: int, pinned: dict | None = None) -> dict:
    """Generate the (seed, size) input unless cached; fail on any digest
    mismatch against the pinned values (``pinned.json`` unless given)."""
    pinned = pinned or load_pinned()
    canary = canary_digest()
    if canary != pinned["canary"]:
        raise SystemExit(
            f"input check failed: corpus generator canary digest {canary} "
            f"!= pinned {pinned['canary']} (corpus.py changed the workloads)"
        )
    path = input_dir(cache, seed, size)
    man_path = os.path.join(path, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            manifest = json.load(f)
    else:
        manifest = generate(cache, seed, size)
    want = pinned["inputs"].get(f"{seed}:{size}")
    if want is not None and manifest["digest"] != want:
        raise SystemExit(
            f"input check failed: seed {seed} size {size} digest "
            f"{manifest['digest']} != pinned {want}"
        )
    manifest["pinned"] = want is not None
    manifest["path"] = path
    return manifest
