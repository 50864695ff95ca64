"""Seeded input generation.  The program under test only ever sees the files
written here; every generator is a pure function of its seed and sizes."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest


def ingest_files(
    out_dir: str, seed: int, *, n_files: int, rows_per_file: int, n_users: int, drift_at: int
) -> list[str]:
    """``n_files`` parquet files of (event_id, user_id, amount).  Files from
    index ``drift_at`` on carry one extra nullable ``channel`` column: the
    mid-stream schema drift.  Amounts are integers so sums compare exactly;
    mtimes strictly increase with the file index so the planner's order is
    the generation order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base_mtime = 1_700_000_000
    paths = []
    for i in range(n_files):
        cols = {
            "event_id": pa.array(
                np.arange(i * rows_per_file, (i + 1) * rows_per_file, dtype=np.int64)
            ),
            "user_id": pa.array(rng.integers(0, n_users, rows_per_file), type=pa.int64()),
            "amount": pa.array(rng.integers(1, 1000, rows_per_file), type=pa.int64()),
        }
        if i >= drift_at:
            channel = np.array(["web", "app", "api", ""])[rng.integers(0, 4, rows_per_file)]
            cols["channel"] = pa.array([c or None for c in channel], type=pa.string())
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pa.table(cols), path)
        os.utime(path, (base_mtime + i, base_mtime + i))
        paths.append(path)
    return paths


# ------------------------------------------------------------------- cdc

CDC_SCHEMA = pa.schema(
    [("id", pa.int64()), ("grp", pa.int64()), ("amount", pa.int64()), ("_change_type", pa.string())]
)


def cdc_inputs(
    out_dir: str,
    seed: int,
    *,
    base_rows: int,
    n_groups: int,
    cycles: int,
    changes_per_cycle: int,
    mix: dict[str, float],
    zipf_s: float,
) -> tuple[str, str, list[str], list[dict[int, tuple[int, int]]]]:
    """Base table, dimension table and one change set per cycle, drawn
    against a Python model of the table.

    Updates and deletes pick keys Zipf-skewed over a fixed random ranking of
    the live ids, so a few hot keys change in most cycles; keys are unique
    within one change set.  Delete rows carry the full deleted row.  Returns
    (base_path, dim_path, change_paths, models) where ``models[i]`` is the
    table (id -> (grp, amount)) after change set ``i``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    model = {
        int(i): (int(g), int(a))
        for i, g, a in zip(
            range(base_rows),
            rng.integers(0, n_groups, base_rows),
            rng.integers(1, 1000, base_rows),
        )
    }
    ranking = [int(i) for i in rng.permutation(base_rows)]
    next_id = base_rows

    base_path = os.path.join(out_dir, "base.parquet")
    pq.write_table(_rows_table(model), base_path)
    dim_path = os.path.join(out_dir, "dim.parquet")
    pq.write_table(
        pa.table(
            {
                "grp": pa.array(np.arange(n_groups), type=pa.int64()),
                "region": [f"region-{g % 7}" for g in range(n_groups)],
            }
        ),
        dim_path,
    )

    n_ins = round(changes_per_cycle * mix["insert"])
    n_del = round(changes_per_cycle * mix["delete"])
    n_upd = changes_per_cycle - n_ins - n_del
    change_paths, models = [], []
    for c in range(cycles):
        live = [k for k in ranking if k in model]
        ranking = live
        weights = 1.0 / np.arange(1, len(live) + 1) ** zipf_s
        weights /= weights.sum()
        picked: list[int] = []
        seen: set[int] = set()
        for k in rng.choice(len(live), size=8 * (n_upd + n_del), p=weights):
            key = live[int(k)]
            if key not in seen:
                seen.add(key)
                picked.append(key)
            if len(picked) == n_upd + n_del:
                break
        rows = []
        for key in picked[:n_upd]:
            grp, _ = model[key]
            if rng.random() < 0.2:
                grp = int(rng.integers(0, n_groups))
            amount = int(rng.integers(1, 1000))
            rows.append((key, grp, amount, "update"))
            model[key] = (grp, amount)
        for key in picked[n_upd:]:
            grp, amount = model.pop(key)
            rows.append((key, grp, amount, "delete"))
        for _ in range(n_ins):
            grp, amount = int(rng.integers(0, n_groups)), int(rng.integers(1, 1000))
            rows.append((next_id, grp, amount, "insert"))
            model[next_id] = (grp, amount)
            ranking.append(next_id)
            next_id += 1
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        path = os.path.join(out_dir, f"changes-{c:04d}.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(CDC_SCHEMA.names, r)) for r in rows], schema=CDC_SCHEMA
            ),
            path,
        )
        change_paths.append(path)
        models.append(dict(model))
    return base_path, dim_path, change_paths, models


def _rows_table(model: dict[int, tuple[int, int]]) -> pa.Table:
    ids = sorted(model)
    return pa.table(
        {
            "id": pa.array(ids, type=pa.int64()),
            "grp": pa.array([model[i][0] for i in ids], type=pa.int64()),
            "amount": pa.array([model[i][1] for i in ids], type=pa.int64()),
        }
    )


# ------------------------------------------------------------- operators

# What ``tools/gen_scale_data.gen`` reads from its sf0.1 shape donor, kept
# here so the benchmark needs no test data: the region and nation rows, the
# column types of every donor table, and the documents' word frequencies (in
# first-occurrence order) and length histogram.  ``python3 perfbench/inputs.py
# <sf0.1 dir>`` rewrites it from a donor directory.
DONOR_PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "donor_profile.json")
DONOR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
TYPES = {
    "int32": pa.int32(),
    "int64": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "timestamp[us]": pa.timestamp("us"),
    "list<element: float>": pa.list_(pa.float32()),
}


def write_donor_profile(donor_dir: str, out_path: str = DONOR_PROFILE) -> None:
    from collections import Counter

    texts = pq.read_table(os.path.join(donor_dir, "documents.parquet"), columns=["text"])["text"]
    words = Counter(w for t in texts.to_pylist() for w in t.split(" "))
    lengths = Counter(len(t.split(" ")) for t in texts.to_pylist())
    profile = {
        "schemas": {
            name: [[f.name, str(f.type)] for f in pq.read_schema(os.path.join(donor_dir, f"{name}.parquet"))]
            for name in DONOR_TABLES
        },
        "rows": {
            name: pq.read_table(os.path.join(donor_dir, f"{name}.parquet")).to_pylist()
            for name in ("region", "nation")
        },
        "words": list(words.items()),
        "doc_lengths": sorted(lengths.items()),
    }
    with open(out_path, "w") as handle:
        entries = (f" {json.dumps(k)}: {json.dumps(v)}" for k, v in profile.items())
        handle.write("{\n" + ",\n".join(entries) + "\n}\n")


def _donor_dir(out_dir: str) -> str:
    """A stand-in for the sf0.1 donor that gives ``gen`` the same inputs:
    region and nation as they are, one empty table per other donor table
    (for gen's schema check), and documents whose word counts and length
    histogram are the donor's."""
    with open(DONOR_PROFILE) as handle:
        profile = json.load(handle)
    os.makedirs(out_dir, exist_ok=True)
    for name, columns in profile["schemas"].items():
        schema = pa.schema([(col, TYPES[t]) for col, t in columns])
        if name in profile["rows"]:
            table = pa.Table.from_pylist(profile["rows"][name], schema=schema)
        elif name == "documents":
            stream = [w for w, count in profile["words"] for _ in range(count)]
            texts, pos = [], 0
            for length, count in profile["doc_lengths"]:
                for _ in range(count):
                    texts.append(" ".join(stream[pos:pos + length]))
                    pos += length
            table = pa.table({
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["src0"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }).cast(schema)
        else:
            table = schema.empty_table()
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def operator_tables(out_dir: str, seed: int, *, sf: float) -> dict[str, int]:
    """The operator suite's tables: ``tools/gen_scale_data.gen(sf, out_dir,
    seed)`` run against the stand-in donor.  Returns rows per table."""
    import contextlib
    import io

    from tools import gen_scale_data

    saved = gen_scale_data.REF
    gen_scale_data.REF = _donor_dir(out_dir + "-donor")
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_scale_data.gen(sf, out_dir, seed)
    finally:
        gen_scale_data.REF = saved
    return {
        name: pq.read_metadata(os.path.join(out_dir, f"{name}.parquet")).num_rows
        for name in DONOR_TABLES
    }


if __name__ == "__main__":
    import sys

    write_donor_profile(sys.argv[1])
