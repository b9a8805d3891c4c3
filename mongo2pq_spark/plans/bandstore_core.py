"""The one lifecycle of the persisted stores, written once.

Five stores keep history across runs: the near-dedup store
(``plans/neardedup_store.py``), the media fingerprint stores
(``plans/mediadedup_store.py``), the span-hash store
(``plans/spanstore.py``), the inverted index
(``operators/text.py::write_inverted_index``) and the Naive Bayes count
store (``operators/classifier.py::ingest_nb_counts``); the streaming
band store (``streaming/neardedup.py``) shares the swap and run-log
parts. Each store keeps only its probe joins and merge aggregates; every
lifecycle step below lives here:

1. **Pin** (``pin_meta``). A store directory's parameters are pinned
   in a JSON file at creation (``meta.json``; the NB store's
   ``_NB_STORE_META.json``). Reopening with any pinned key changed is a
   hard error: probing or merging across a parameter change gives
   plausible-looking garbage. The root must be a driver-local path (the
   pin and the gates are filesystem checks; at warehouse scale the same
   shape becomes catalog tables with MERGE commits). A non-empty
   directory without a pin is refused, because initializing over it
   would silently discard its history. Stores with done markers get a
   partial-commit audit on reopen (step 3). ``read_pin`` opens an
   existing tree from its pin, so maintenance never guesses parameters.
2. **Token** (``digest_batch_token``). A batch is named by a
   deterministic, order-independent content token, so a retry of the
   same input writes the same ``batch=<token>`` partition (overwrite,
   never append) and excludes its own rows from the history probe.
3. **Commit + done marker** (``RunLog``). A batch's store rows are
   written only after the EL write succeeded, then ``runs/<token>.done``
   lands. Data without a marker is a crash inside the commit: the
   reopen audit warns, and re-running the same input finishes it. The
   NB store has no marker; it writes each batch into two trees, and
   ``torn_batches`` finds a batch that reached only one of them, which
   its load and fold refuse until the batch is re-ingested.
4. **Consolidate or fold** (bounding one partition per run).
   ``consolidate_tree`` merges every COMPLETED batch of one tree into
   ``batch=c0``; rows carry their origin token (``src_token``), so the
   own-batch exclusion survives as a row filter (near-dedup and media
   stores). ``fold_tree`` folds a whole tree into ``batch=c0`` where a
   regroup destroys per-row provenance (postings, additive counts, the
   span set); the folded tokens go to the ``_absorbed.json`` sidecar,
   written into the build so it swaps in atomically with the data, and
   a retry of an absorbed token is a no-op. Both list batches with
   ``data_partition_dirs``: a partition holding no data files (a
   crashed write's ``_temporary`` droppings, an empty ``_SUCCESS``-only
   batch) is neither merged nor recorded as absorbed, so its retry
   still lands. Run either between increments, never with one in
   flight.
5. **Recover** (``replace_dir`` / ``recover_replace``). Every rewrite
   goes write-aside build, complete-by-naming rename, swap with an
   ``.old`` rollback; each store rolls an interrupted swap forward or
   back before it reads or writes the tree, so the target is never
   missing while a complete copy exists.

``RunLog`` also serves the streaming store's numbered increments, with
NUMERIC run-id ordering (``'r10000' < 'r9999'`` as strings would make
the crashed-run resume check inspect the wrong manifest).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path
from typing import Callable


def atomic_write_json(path: Path, obj) -> None:
    """Write JSON via a same-directory temp file + rename, so readers
    never observe a torn manifest."""
    tmp = path.parent / f"_{path.name}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def read_pin(store_dir: Path | str, name: str = "meta.json") -> dict | None:
    """The parameters pinned in a store directory, or None if it has
    never been pinned."""
    path = Path(store_dir) / name
    if not path.is_file():
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def pin_meta(
    store_dir: str | os.PathLike,
    pinned: dict,
    what: str,
    name: str = "meta.json",
    audit: tuple[str, ...] = (),
) -> Path:
    """Create-or-validate ``store_dir``'s parameter pin (step 1 of the
    module docstring) and return the directory. ``audit`` names the
    trees whose batches need a ``runs/<token>.done`` marker; batches
    with data but no marker are warned about on reopen. Entries named
    ``_*`` or ``*.tmp`` (bookkeeping, torn pin writes) do not count as
    content for the unpinned-directory refusal."""
    if "://" in str(store_dir):
        raise ValueError(
            f"{what} must be a driver-visible local directory, got "
            f"{str(store_dir)!r}; remote object-store backends need the "
            "catalog-table variant of this layout"
        )
    store = Path(store_dir)
    stored = read_pin(store, name)
    if stored is None:
        if store.is_dir() and any(
            not (e.name.startswith("_") or e.name.endswith(".tmp"))
            for e in store.iterdir()
        ):
            raise ValueError(
                f"{store} exists and is non-empty but has no {name} — "
                f"not a {what} (or an incompatible layout); refusing to "
                "initialize over it"
            )
        store.mkdir(parents=True, exist_ok=True)
        atomic_write_json(store / name, pinned)
        return store
    drift = {
        key: (stored.get(key), val)
        for key, val in pinned.items()
        if stored.get(key) != val
    }
    if drift:
        raise ValueError(
            f"{what} {store}: config mismatch — built with different "
            f"parameters: {drift} (stored, requested); results across a "
            "parameter change are silently wrong, use a fresh store "
            "directory"
        )
    partial = set().union(*(batch_tokens(store / t) for t in audit))
    partial -= RunLog(store / "runs").done_tokens()
    if partial:
        print(
            f"WARNING: {what} {store} has partially-committed batches "
            f"{sorted(partial)} (no completion marker) — re-run those "
            "inputs to finish their index entries; until then dedup "
            "against them is incomplete",
            file=sys.stderr,
        )
    return store


def absorbed_tokens(root: Path | str) -> set[str]:
    """Tokens already folded into ``batch=c0`` by ``fold_tree``,
    recorded in ``_absorbed.json`` (underscore-prefixed so Spark's
    parquet discovery ignores it). A producer retry of an absorbed
    token must not re-append next to ``batch=c0``: the fold is a pure
    regroup, so the duplicate would be baked in permanently."""
    p = Path(root) / "_absorbed.json"
    if not p.is_file():
        return set()
    with open(p) as fh:
        return set(json.load(fh))


def torn_batches(roots: list[Path]) -> list[str]:
    """Batches of a store that writes each batch into several trees,
    one after the other, that hold data in one tree but are neither
    present in nor absorbed into another: a write that stopped between
    the trees. A crash between the trees' fold swaps is not torn, as
    the folded tree records the batch as absorbed."""
    held = [batch_tokens(r) for r in roots]
    known = [h | absorbed_tokens(r) for h, r in zip(held, roots)]
    return sorted(set().union(*held) - set.intersection(*known))


def record_absorbed(root: Path | str, tokens: set[str]) -> None:
    """Write the absorbed-token record into the ``replace_dir`` BUILD
    path, so it swaps into place atomically with the data it describes
    (a record landing without its data, or the reverse, would break
    the retry exclusion in exactly the crash windows it exists for)."""
    atomic_write_json(Path(root) / "_absorbed.json", sorted(tokens))


def digest_batch_token(df, dig) -> str:
    """Deterministic, order-independent content token of a batch:
    row count + decimal sums of both 64-bit halves of a per-row md5
    digest column (~128 collision bits — a narrow checksum would let
    two DIFFERENT batches alias one partition). One map-side
    aggregate; the same input always maps to the same token, so
    retries overwrite their own partition. Sums over zero rows are
    NULL; coalesced so the empty batch gets the well-formed token
    0_0_0 instead of embedding 'None' in partition dir names (only
    n=0 can null the halves, so no real batch can alias it).

    The one definition behind the near-dedup, media and inverted-index
    stores' batch identity — their on-disk token format is this
    string."""
    from pyspark.sql import functions as F

    half = lambda lo, ln: F.sum(  # noqa: E731
        F.conv(F.substring(dig, lo, ln), 16, 10).cast("decimal(38,0)")
    )
    row = df.select(
        F.count("*").alias("n"),
        half(1, 16).alias("h1"),
        half(17, 16).alias("h2"),
    ).first()
    return f"{row['n']}_{row['h1'] or 0}_{row['h2'] or 0}"


def data_partition_dirs(
    base: Path, prefix: str = "batch=", exclude: str | None = None
) -> list[Path]:
    """Partition dirs under ``base`` that hold actual data files,
    sorted by name; ``exclude`` skips one partition by full dir name
    (the probing batch's own-partition exclusion)."""
    if not base.is_dir():
        return []
    return [
        p
        for p in sorted(base.glob(f"{prefix}*"))
        if p.name != exclude and any(p.glob("*.parquet"))
    ]


def batch_tokens(root: Path) -> set[str]:
    """Tokens of the ``data_partition_dirs`` under ``root``, the folded
    ``batch=c0`` aside."""
    dirs = data_partition_dirs(Path(root))
    return {p.name.removeprefix("batch=") for p in dirs} - {"c0"}


def aux_path(target: Path, kind: str) -> Path:
    """Sibling scratch path for ``replace_dir``'s protocol. The
    leading underscore keeps it outside ``<prefix>*`` partition globs
    and makes Spark's readers ignore it; ``=`` is flattened so the
    name is never itself parsed as a partition."""
    return target.parent / f"_{target.name.replace('=', '_')}.{kind}"


def recover_replace(target: Path) -> None:
    """Roll an interrupted ``replace_dir(target, ...)`` forward or
    back. Crash windows and their resolution:

    - build written, not yet renamed → the stranded ``.build`` is
      dropped (incomplete by definition).
    - build renamed to ``.swapin`` but ``target`` still present → the
      swap-in is DISCARDED: its content is recomputable (both call
      sites re-derive it from sources that are only deleted after
      ``replace_dir`` returns), while preferring it would require
      proving it newer than ``target``.
    - ``target`` renamed aside to ``.old``, swap-in not yet renamed →
      roll FORWARD (``.swapin`` is complete by naming: it only ever
      gets that name after its parquet write succeeded).
    - ``.old`` present with no swap-in (or next to a live target
      post-swap) → roll BACK / drop the stale copy.

    ``target`` is therefore never left missing when any complete copy
    exists — the invariant the stores' probes depend on (a missing
    index directory reads as "empty store" and mass-unflags
    duplicates)."""
    swapin, old = aux_path(target, "swapin"), aux_path(target, "old")
    if not target.is_dir():
        if swapin.is_dir():
            os.rename(swapin, target)
        elif old.is_dir():
            os.rename(old, target)
    shutil.rmtree(old, ignore_errors=True)
    if target.is_dir():
        shutil.rmtree(swapin, ignore_errors=True)
    shutil.rmtree(aux_path(target, "build"), ignore_errors=True)


def replace_dir(target: Path, writer: Callable[[str], None]) -> None:
    """Crash-safely replace ``target`` with the content ``writer``
    produces at the build path it is handed. At every crash point the
    combination of on-disk state and ``recover_replace`` yields either
    the complete old or the complete new content (see the crash-window
    inventory there). Callers must keep the inputs ``writer`` derives
    its output from until this returns — that is what makes discarding
    an ambiguous swap-in safe."""
    recover_replace(target)
    build, swapin = aux_path(target, "build"), aux_path(target, "swapin")
    old = aux_path(target, "old")
    writer(str(build))
    os.rename(build, swapin)  # complete-by-naming
    if target.is_dir():
        os.rename(target, old)
    os.rename(swapin, target)
    shutil.rmtree(old, ignore_errors=True)


class RunLog:
    """A ``runs/`` directory of run manifests and completion markers.

    Two usage profiles, one bookkeeping implementation:

    - marker-only (batch store): ``mark_done(token)`` +
      ``done_tokens()`` — tokens are caller-defined (content
      fingerprints).
    - numbered increments (streaming store): ``begin_numbered()``
      allocates ``r<NNNN>`` manifests whose offsets are the running
      sum of completed increments' batch counts, resumes a crashed
      (un-``done``) increment with its ORIGINAL parameters, and
      refuses to resume it under a different input path.
    """

    def __init__(self, runs_dir: str | os.PathLike) -> None:
        self.dir = Path(runs_dir)

    def done_tokens(self) -> set[str]:
        if not self.dir.is_dir():
            return set()
        return {p.name[: -len(".done")] for p in self.dir.glob("*.done")}

    def mark_done(self, token: str) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        (self.dir / f"{token}.done").write_text("")

    def _run_ids(self) -> list[str]:
        """Numbered run ids in NUMERIC order — the whole point of
        centralizing this (see module docstring)."""
        if not self.dir.is_dir():
            return []
        ids = [
            p.stem
            for p in self.dir.glob("r*.json")
            if p.stem[1:].isdigit()
        ]
        return sorted(ids, key=lambda n: int(n[1:]))

    def begin_numbered(
        self, n_batches: int, documents_path: str = ""
    ) -> tuple[str, int, int]:
        """Allocate (or resume) a numbered increment: returns
        ``(run_id, offset, n_batches)``.

        The manifest is written atomically BEFORE the caller stages or
        writes anything, and the caller lands ``mark_done(run_id)``
        only after its work drains — so a crash anywhere inside the
        increment leaves an un-``done`` manifest that the next call
        resumes with the ORIGINAL offset and batch count (half-written
        partitions are simply overwritten). A resume with a DIFFERENT
        ``documents_path`` raises instead of silently draining the
        crashed increment's staged files under the new name. Offsets
        are the running sum of completed manifests' ``n_batches`` — a
        pure metadata read, never a store scan. Every un-done manifest
        is checked (not just the newest), so a skipped crashed run can
        never be silently stranded."""
        self.dir.mkdir(parents=True, exist_ok=True)
        ids = self._run_ids()
        done = self.done_tokens()
        offset = 0
        for rid in ids:
            with open(self.dir / f"{rid}.json") as fh:
                manifest = json.load(fh)
            if rid not in done:
                if manifest.get("documents_path", "") != documents_path:
                    raise ValueError(
                        f"increment {rid} crashed mid-run over "
                        f"{manifest.get('documents_path')!r}; resume it "
                        f"with that documents_path (got "
                        f"{documents_path!r}) before starting new work"
                    )
                return rid, int(manifest["offset"]), int(manifest["n_batches"])
            offset += int(manifest["n_batches"])
        run_id = f"r{(int(ids[-1][1:]) + 1) if ids else 0:04d}"
        atomic_write_json(
            self.dir / f"{run_id}.json",
            {
                "offset": offset,
                "n_batches": n_batches,
                "documents_path": documents_path,
            },
        )
        return run_id, offset, n_batches


def consolidate_tree(
    spark,
    base: Path,
    merge: Callable,
    done: set[str],
) -> None:
    """Merge every COMPLETED ``batch=<token>`` of ``base`` into one
    ``batch=c0`` with ``merge`` (a DataFrame → DataFrame aggregate that
    keeps each row's ``src_token``), through the crash-safe swap.

    ``batch=c0`` is complete BY NAMING (it only gets that name from the
    swap of a fully written build), so it joins the merge
    unconditionally: gating it on a marker written after the swap
    would let a crash in that window orphan it, and the next merge
    would delete it unread. Batches without a done marker (crashes
    inside a commit) are left alone so their retry semantics hold.
    Sources, the old ``batch=c0`` among them, stay in place until the
    swap returns, which is what licenses ``recover_replace``'s
    discard-ambiguous-swap-in choice."""
    c0 = base / "batch=c0"
    recover_replace(c0)
    src = [
        p
        for p in data_partition_dirs(base)
        if p == c0 or p.name.removeprefix("batch=") in done
    ]
    if len(src) < 2:
        return
    merged = merge(spark.read.parquet(*[str(p) for p in src]))
    replace_dir(c0, lambda build: merged.write.mode("overwrite").parquet(build))
    for p in src:
        if p != c0:
            shutil.rmtree(p, ignore_errors=True)


def fold_tree(root: Path | str, write: Callable[[list[str], str], None]) -> None:
    """Fold every batch of the tree at ``root`` into one ``batch=c0``
    and record the folded tokens in ``_absorbed.json``, swapping the
    whole tree crash-safely. ``write(sources, c0_path)`` reads the
    listed batch directories (the previous ``batch=c0`` included) and
    writes the folded rows to ``c0_path``.

    The absorbed record and the read share one listing,
    ``data_partition_dirs``: a batch directory holding no data files
    (a write that crashed with only Spark's ``_temporary`` droppings)
    is neither folded nor recorded, so its retry still lands instead
    of being skipped as already absorbed. A tree with no data is left
    as it is."""
    root = Path(root)
    recover_replace(root)
    batches = data_partition_dirs(root)
    if not batches:
        return
    absorbed = absorbed_tokens(root) | {
        p.name.removeprefix("batch=") for p in batches if p.name != "batch=c0"
    }

    def writer(build: str) -> None:
        write([str(p) for p in batches], os.path.join(build, "batch=c0"))
        record_absorbed(build, absorbed)

    replace_dir(root, writer)
