"""Seeded, single-process input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical files. Each input directory carries a
``manifest.json`` with the generator's ground truth (the partition-key
histogram, the planted duplicates) and a SHA-256 content digest of every
data file, so a cached input is reused only when its bytes still match.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np

#: bumped whenever a generator's output changes, so stale caches are
#: regenerated instead of trusted
GENERATOR_VERSION = 1

_WORDS = np.array(
    [
        f"{a}{b}{c}"
        for a in ("ka", "lo", "mi", "nu", "pe", "ri", "so", "tu", "va", "ze")
        for b in ("b", "d", "g", "k", "m", "n", "r", "s", "t", "v")
        for c in ("a", "e", "i", "o", "u", "an", "el", "ir", "os", "um")
    ]
)  # 1000 distinct pronounceable tokens

#: the el_dump partition key takes one of these values, skewed so the
#: rows-per-partition check sees partitions of very different sizes
REGIONS = [f"r{i:02d}" for i in range(24)]

#: 2024-01-01 .. 2026-01-01 UTC in epoch seconds: inside the engine's
#: +-5-year epoch-timestamp heuristic for years after generation
_T0, _T1 = 1_704_067_200, 1_767_225_600

LANGS = ["en", "de", "fr", "es", "zh", "ja"]


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _cached(root: Path, key: dict) -> dict | None:
    """The manifest of a cached input whose key and file digests match,
    else None."""
    try:
        manifest = json.loads((root / "manifest.json").read_text())
    except (OSError, ValueError):
        return None
    if manifest.get("key") != key:
        return None
    for name, digest in manifest["sha256"].items():
        path = root / name
        if not path.is_file() or _sha256(path) != digest:
            return None
    return manifest


def _materialize(root: Path, key: dict, write) -> dict:
    """Return the manifest of the input at ``root`` for ``key``, writing
    it with ``write(tmpdir) -> (files, truth)`` unless a digest-verified
    copy is already there."""
    manifest = _cached(root, key)
    if manifest is not None:
        manifest["generated"] = False
        return manifest
    shutil.rmtree(root, ignore_errors=True)
    tmp = root.with_name(root.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    files, truth = write(tmp)
    manifest = {
        "key": key,
        "truth": truth,
        "sha256": {name: _sha256(tmp / name) for name in files},
        "bytes": {name: (tmp / name).stat().st_size for name in files},
    }
    (tmp / "manifest.json").write_text(json.dumps(manifest))
    tmp.rename(root)
    manifest["generated"] = True
    return manifest


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi, size=n)
    words = _WORDS[rng.integers(0, len(_WORDS), size=int(lengths.sum()))]
    out, pos = [], 0
    for length in lengths:
        out.append(" ".join(words[pos:pos + length]))
        pos += length
    return out


# -- el_dump: one mongodump collection of typed extended JSON -------------

#: the collection name (the dump file's stem) the config rules target
DUMP_COLLECTION = "orders"

#: retype + rename rules applied by the EL run; checked on the output
DUMP_CONFIG = f"""\
schema:
  {DUMP_COLLECTION}:
    - type: retype_equals
      fieldname: qty
      fieldtype: int64
    - type: rename_regex
      oldname: ^price$
      newname: price_usd
    - type: rename_regex_upper
      oldname: ^(note)$
      newname: \\1_text
      upper: [1]
"""

#: inferred YAML types the dump must produce (config is applied after
#: the dump, so these are the pre-rename names)
DUMP_EXPECTED_TYPES = {
    "created": "timestamp",   # {"$date": ISO-8601}
    "updated": "timestamp",   # {"$date": {"$numberLong": ms}}
    "seen_at": "timestamp",   # raw epoch seconds, int
    "score_at": "timestamp",  # raw epoch seconds, float
    "counter": "int64",       # {"$numberLong": n}
}
DUMP_NESTED_FIELDS = ("meta", "tags")


def _dump_lines(seed: int, n_docs: int) -> tuple[list[str], dict]:
    rng = np.random.default_rng(seed)
    # Zipf-like skew over the 24 partition-key values
    weights = 1.0 / np.arange(1, len(REGIONS) + 1) ** 0.8
    region = rng.choice(len(REGIONS), size=n_docs, p=weights / weights.sum())
    created = rng.integers(_T0, _T1, size=n_docs)
    created_ms = rng.integers(1, 1000, size=n_docs)
    updated_ms = (created + rng.integers(60, 86_400 * 30, size=n_docs)) * 1000
    seen_at = rng.integers(_T0, _T1, size=n_docs)
    score_at = rng.integers(_T0, _T1, size=n_docs) + rng.random(n_docs).round(3)
    counter = rng.integers(3_000_000_000, 9_000_000_000_000_000, size=n_docs)
    qty = rng.integers(0, 5000, size=n_docs)
    price = (rng.random(n_docs) * 1000).round(2)
    active = rng.random(n_docs) < 0.5
    note_kind = rng.integers(0, 4, size=n_docs)  # 0 null, 1 "", 2-3 text
    oids = rng.integers(0, 1 << 62, size=n_docs)
    names = _texts(rng, n_docs, 2, 5)
    notes = _texts(rng, n_docs, 4, 12)
    tags = _texts(rng, n_docs, 1, 4)
    iso = np.datetime_as_string(
        created.astype("datetime64[s]"), unit="s"
    )
    histogram = np.bincount(region, minlength=len(REGIONS))
    # Python scalars format several times faster than NumPy's
    (region, created_ms, updated_ms, seen_at, score_at, counter, qty, price,
     active, note_kind, oids) = (
        a.tolist() for a in (region, created_ms, updated_ms, seen_at,
                             score_at, counter, qty, price, active,
                             note_kind, oids)
    )
    lines = []
    for i in range(n_docs):
        if note_kind[i] == 0:
            note = "null"
        elif note_kind[i] == 1:
            note = '""'
        else:
            note = f'"{notes[i]}"'
        tag_list = ",".join(f'"{t}"' for t in tags[i].split(" "))
        lines.append(
            f'{{"_id":{{"$oid":"{i:08x}{oids[i]:016x}"}},'
            f'"region":"{REGIONS[region[i]]}",'
            f'"name":"{names[i]}",'
            f'"created":{{"$date":"{iso[i]}.{created_ms[i]:03d}Z"}},'
            f'"updated":{{"$date":{{"$numberLong":"{updated_ms[i]}"}}}},'
            f'"seen_at":{seen_at[i]},'
            f'"score_at":{score_at[i]:.3f},'
            f'"counter":{{"$numberLong":"{counter[i]}"}},'
            f'"qty":{qty[i]},"price":{price[i]:.2f},'
            f'"active":{"true" if active[i] else "false"},'
            f'"note":{note},'
            f'"meta":{{"src":"s{region[i]}","v":{qty[i] % 7}}},'
            f'"tags":[{tag_list}]}}\n'
        )
    truth = {
        "docs": n_docs,
        "rows_per_partition": {
            REGIONS[k]: int(c) for k, c in enumerate(histogram) if c
        },
    }
    return lines, truth


def el_dump_input(root: Path, seed: int, n_docs: int) -> dict:
    """``root/src/orders.jsonl`` (the dump) and ``root/config.yaml``."""

    def write(tmp: Path):
        lines, truth = _dump_lines(seed, n_docs)
        (tmp / "src").mkdir()
        with open(tmp / "src" / f"{DUMP_COLLECTION}.jsonl", "w") as fh:
            fh.writelines(lines)
        (tmp / "config.yaml").write_text(DUMP_CONFIG)
        return [f"src/{DUMP_COLLECTION}.jsonl", "config.yaml"], truth

    key = {"kind": "el_dump", "v": GENERATOR_VERSION, "seed": seed, "n": n_docs}
    return _materialize(root, key, write)


def slice_dump(src: Path, dst: Path, n_lines: int) -> None:
    """Copy the first ``n_lines`` lines of a dump (the warm-up input)."""
    dst.parent.mkdir(parents=True, exist_ok=True)
    with open(src) as fin, open(dst, "w") as fout:
        for i, line in enumerate(fin):
            if i >= n_lines:
                break
            fout.write(line)


# -- known-defect probe: quoted scalars in a dump --------------------------

PROBE_COLLECTION = "quoted"
PROBE_DOCS = 200


def quoted_scalar_probe(root: Path) -> int:
    """A dump whose ``answer``/``qty_s``/``when_s`` fields only ever hold
    QUOTED scalars (``"yes"``, ``"12"``, ISO strings). Returns the doc
    count; the probe expects one row per doc in the written output."""
    (root / "src").mkdir(parents=True, exist_ok=True)
    with open(root / "src" / f"{PROBE_COLLECTION}.jsonl", "w") as fh:
        for i in range(PROBE_DOCS):
            fh.write(json.dumps({
                "_id": {"$oid": f"{i:024x}"},
                "answer": "yes" if i % 2 else "no",
                "qty_s": str(i % 50),
                "when_s": f"2025-01-{i % 28 + 1:02d}T10:00:00",
            }) + "\n")
    return PROBE_DOCS


# -- ingest_dedup: base + increment text corpus ----------------------------

DEDUP_COLLECTION = "docs"
#: extra exact copies in each batch, and planted near-duplicates of the
#: base in the increment, as shares of the batch size
EXACT_SHARE = 0.05
NEAR_SHARE = 0.30


def _edit(text: str, rng: np.random.Generator) -> str:
    """One word replaced: a near-duplicate (word-3-shingle Jaccard ~0.9
    at the corpus' document lengths)."""
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = str(
        _WORDS[rng.integers(0, len(_WORDS))]
    ) + "x"
    return " ".join(words)


def ingest_dedup_input(root: Path, seed: int, n_base: int, n_inc: int) -> dict:
    """``root/base/docs.parquet`` and ``root/inc/docs.parquet``.

    The base carries ``EXACT_SHARE`` extra exact copies of its own
    documents. The increment carries ``NEAR_SHARE`` one-word edits of
    distinct base documents (the planted near-duplicates), then fresh
    documents, then ``EXACT_SHARE`` exact copies of fresh documents.
    Every document's language is drawn independently."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def table(ids, texts, langs):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
        })

    def write(tmp: Path):
        rng = np.random.default_rng(seed)
        n_base_exact = int(n_base * EXACT_SHARE)
        base_unique = _texts(rng, n_base - n_base_exact, 60, 110)
        copies = rng.choice(len(base_unique), size=n_base_exact, replace=False)
        base_texts = base_unique + [base_unique[c] for c in copies]
        base_ids = np.arange(n_base)
        base_langs = [LANGS[k] for k in rng.integers(0, len(LANGS), n_base)]

        n_near = int(n_inc * NEAR_SHARE)
        n_inc_exact = int(n_inc * EXACT_SHARE)
        n_fresh = n_inc - n_near - n_inc_exact
        near_src = rng.choice(len(base_unique), size=n_near, replace=False)
        near_texts = [_edit(base_unique[s], rng) for s in near_src]
        fresh = _texts(rng, n_fresh, 60, 110)
        inc_copies = rng.choice(n_fresh, size=n_inc_exact, replace=False)
        inc_texts = near_texts + fresh + [fresh[c] for c in inc_copies]
        inc_ids = np.arange(n_base, n_base + n_inc)
        inc_langs = [LANGS[k] for k in rng.integers(0, len(LANGS), n_inc)]

        for name, ids, texts, langs in (
            ("base", base_ids, base_texts, base_langs),
            ("inc", inc_ids, inc_texts, inc_langs),
        ):
            (tmp / name).mkdir()
            pq.write_table(
                table(ids.tolist(), texts, langs),
                tmp / name / f"{DEDUP_COLLECTION}.parquet",
            )
        # exact-dedup survivors keep the MIN doc_id per text, so the
        # dropped ids are the copies' (larger) ids
        truth = {
            "base_docs": n_base,
            "inc_docs": n_inc,
            "base_exact_dropped": n_base_exact,
            "inc_exact_dropped": n_inc_exact,
            "base_dropped_ids": base_ids[n_base - n_base_exact:].tolist(),
            "inc_exact_dropped_ids": inc_ids[n_inc - n_inc_exact:].tolist(),
            "inc_near_ids": inc_ids[:n_near].tolist(),
        }
        return [
            f"base/{DEDUP_COLLECTION}.parquet",
            f"inc/{DEDUP_COLLECTION}.parquet",
        ], truth

    key = {
        "kind": "ingest_dedup", "v": GENERATOR_VERSION, "seed": seed,
        "n_base": n_base, "n_inc": n_inc,
    }
    return _materialize(root, key, write)
