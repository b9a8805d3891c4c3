"""Output checks that read the written Parquet and YAML directly with
pyarrow and PyYAML, never through the engine. Each check returns
``(name, ok, detail)``; every failed check counts as a failed
operation."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import yaml

import inputs

#: MinHash tolerance of the near-dedup store check. The store verifies
#: band candidates by signature agreement >= 0.8 over k=32 permutations.
#: A one-word edit of a 60..110-word document keeps a word-3-shingle
#: Jaccard of 0.90..0.95, so a planted near-duplicate passes with
#: probability 0.97..0.999 (0.99 averaged over the lengths): recall
#: below 0.95 is a defect, not bad luck. Unrelated documents share
#: almost no shingles, so more than 1 false drop per 1000 fresh
#: documents is a defect too.
NEAR_RECALL_MIN = 0.95
FALSE_DROP_MAX = 0.001


def rows_per_partition(dataset: Path) -> tuple[dict[str, int], int, int]:
    """(rows per hive partition value, files, bytes) from the footers."""
    rows: dict[str, int] = {}
    files = size = 0
    for part in sorted(dataset.glob("*=*")):
        value = part.name.split("=", 1)[1]
        for f in part.glob("*.parquet"):
            rows[value] = rows.get(value, 0) + pq.ParquetFile(f).metadata.num_rows
            files += 1
            size += f.stat().st_size
    return rows, files, size


def _load_schema_yaml(path: Path) -> dict:
    class Loader(yaml.SafeLoader):
        pass

    Loader.add_constructor(
        "!schema", lambda loader, node: loader.construct_mapping(node, deep=True)
    )
    with open(path) as fh:
        return yaml.load(fh, Loader=Loader)


def _is_timestamp_alias(alias: str) -> bool:
    # the engine's inferred type for datetimes is Arrow date64[ms]
    # (milliseconds since the epoch, the reference's datetime mapping);
    # timestamp[*] is the epoch-number heuristic's type
    return alias.startswith(("timestamp", "date64"))


def check_el_dump(outdir: Path, truth: dict) -> list[tuple[str, bool, str]]:
    name = inputs.DUMP_COLLECTION
    dataset = outdir / f"{name}.parquet"
    got, _, _ = rows_per_partition(dataset)
    want = truth["rows_per_partition"]
    results = [(
        "rows_per_partition", got == want,
        f"{sum(got.values())} rows in {len(got)} partitions, "
        f"want {sum(want.values())} in {len(want)}",
    )]
    try:
        fields = _load_schema_yaml(outdir / f"{name}.yaml")["fields"]
    except (OSError, KeyError, TypeError, yaml.YAMLError) as err:
        return results + [("schema_yaml", False, repr(err))]
    bad = {
        f: fields.get(f) for f, want_type in inputs.DUMP_EXPECTED_TYPES.items()
        if fields.get(f) is None
        or not (_is_timestamp_alias(fields[f]) if want_type == "timestamp"
                else fields[f] == want_type)
    }
    nested = [f for f in inputs.DUMP_NESTED_FIELDS if f in fields]
    results.append((
        "schema_yaml_types", not bad and not nested,
        f"mistyped {bad}, nested kept {nested}",
    ))
    files = sorted(dataset.glob("*=*/*.parquet"))
    if not files:
        return results + [("config_applied", False, "no parquet files")]
    schema = pq.read_schema(files[0])
    cols = {f.name: str(f.type) for f in schema}
    renamed = (
        "price_usd" in cols and "price" not in cols
        and "NOTE_text" in cols and "note" not in cols
    )
    retyped = cols.get("qty") == "int64"
    times = all(
        cols.get(f, "").startswith("timestamp")
        for f, t in inputs.DUMP_EXPECTED_TYPES.items() if t == "timestamp"
    )
    results.append((
        "config_applied", renamed and retyped and times,
        f"columns {cols}",
    ))
    return results


def _doc_ids(dataset: Path) -> list[int]:
    ids: list[int] = []
    for f in sorted(dataset.glob("*=*/*.parquet")):
        ids.extend(pq.read_table(f, columns=["doc_id"]).column(0).to_pylist())
    return ids


def _store_rows(store: Path) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in (store / inputs.DEDUP_COLLECTION / "sigs").glob("batch=*/*.parquet")
    )


def check_ingest_dedup(
    base_out: Path, inc_out: Path, store: Path, truth: dict
) -> list[tuple[str, bool, str]]:
    name = inputs.DEDUP_COLLECTION
    base_ids = _doc_ids(base_out / f"{name}.parquet")
    want_base = set(range(truth["base_docs"])) - set(truth["base_dropped_ids"])
    results = [(
        "base_exact_dedup",
        len(base_ids) == len(want_base) and set(base_ids) == want_base,
        f"{truth['base_docs'] - len(base_ids)} dropped, "
        f"want {truth['base_exact_dropped']}",
    )]
    inc_ids = _doc_ids(inc_out / f"{name}.parquet")
    inc_all = range(truth["base_docs"], truth["base_docs"] + truth["inc_docs"])
    dropped = set(inc_all) - set(inc_ids)
    exact = set(truth["inc_exact_dropped_ids"])
    near = set(truth["inc_near_ids"])
    fresh = set(inc_all) - exact - near
    results.append((
        "inc_exact_dedup",
        len(inc_ids) == len(set(inc_ids)) and exact <= dropped,
        f"{len(exact & dropped)} of {len(exact)} exact copies dropped",
    ))
    recall = len(near & dropped) / max(len(near), 1)
    false_drops = len(fresh & dropped)
    results.append((
        "inc_near_dedup",
        recall >= NEAR_RECALL_MIN
        and false_drops <= FALSE_DROP_MAX * len(fresh),
        f"recall {recall:.4f} (min {NEAR_RECALL_MIN}), "
        f"{false_drops} false drops of {len(fresh)} fresh",
    ))
    stored = _store_rows(store)
    results.append((
        "store_holds_survivors", stored == len(base_ids) + len(inc_ids),
        f"{stored} signatures stored for {len(base_ids) + len(inc_ids)} "
        "written rows",
    ))
    return results
