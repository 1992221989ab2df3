"""Seeded TEBIS corpus generator with an expected-outcome manifest.

A TEBIS file is latin-1, `;`-delimited: row 1 is the header (an empty
timestamp cell, then one `externalId : name` cell per series), row 2 the
unit row, then one row per second (epoch seconds, comma-decimal values).

Every file owns a disjoint time window (`T0 + index * WINDOW_S` seconds), so
a datapoint's timestamp names the file it came from. The checks use this to
account lake rows and client posts per file.

The corpus mixes
  * narrow files (NARROW_SERIES series x NARROW_ROWS rows) and wide files
    (WIDE_SERIES series x WIDE_ROWS rows, more than one post batch);
  * series the pre-seeded catalog lacks (MISSING_FRAC of the pool);
  * bad files (BAD_FRAC): one timestamp cell is not an integer, so the whole
    file dead-letters after its first column's header reached the catalog;
  * bad cells (BAD_CELL_FRAC): empty or unparsable value cells, dropped.

Usage: python3 gen_tebis.py OUT_DIR SEED N_FILES
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_600_000_000
WINDOW_S = 1000
NARROW_SERIES, NARROW_ROWS = 20, 600
WIDE_SERIES, WIDE_ROWS = 1200, 60
NARROW_POOL, WIDE_POOL = 1000, 1500
MISSING_FRAC = 0.2
WIDE_FRAC = 0.03
BAD_FRAC = 0.02
BAD_CELL_FRAC = 0.03
BAD_CELLS = ["", "n/a", "-"]
VALUE_POOL = 4096

MANIFEST_COLUMNS = ["name", "bad", "points", "sum_ts_ms", "sum_v1000", "window", "ids"]


def series_id(i):
    return f"TAG{i:05d}"


def catalog_ids(seed):
    """The series the pre-seeded catalog holds: all but MISSING_FRAC of the pool."""
    rng = np.random.default_rng([seed, 1])
    pool = NARROW_POOL + WIDE_POOL
    missing = set(rng.choice(pool, size=int(pool * MISSING_FRAC), replace=False).tolist())
    return [series_id(i) for i in range(pool) if i not in missing]


def _value_pool(rng):
    v1000 = rng.integers(-50_000, 200_000, size=VALUE_POOL)
    text = [("-" if v < 0 else "") + f"{abs(v) // 1000},{abs(v) % 1000:03d}" for v in v1000.tolist()]
    return np.append(v1000, np.zeros(len(BAD_CELLS), dtype=np.int64)), text + BAD_CELLS


def _write_file(path, rng, window, wide, bad, values, texts):
    n_series, n_rows = (WIDE_SERIES, WIDE_ROWS) if wide else (NARROW_SERIES, NARROW_ROWS)
    ids = (NARROW_POOL + rng.choice(WIDE_POOL, size=n_series, replace=False)) if wide \
        else rng.choice(NARROW_POOL, size=n_series, replace=False)
    ids = [series_id(i) for i in ids.tolist()]
    cells = rng.integers(0, VALUE_POOL, size=(n_rows, n_series))
    bad_mask = rng.random((n_rows, n_series)) < BAD_CELL_FRAC
    cells[bad_mask] = VALUE_POOL + rng.integers(0, len(BAD_CELLS), size=int(bad_mask.sum()))
    ts = T0 + window * WINDOW_S + np.arange(n_rows, dtype=np.int64)
    ts_cells = [str(t) for t in ts.tolist()]
    if bad:
        row = int(rng.integers(1, n_rows))
        cells[row, 0] = 0  # a parsable value where the timestamp is broken
        ts_cells[row] = f"{ts_cells[row][:4]}x{ts_cells[row][5:]}"
    lines = [";" + ";".join(f"{i} : Sensor {i}" for i in ids), "Zeit" + ";degC" * n_series]
    for r in range(n_rows):
        lines.append(ts_cells[r] + ";" + ";".join(map(texts.__getitem__, cells[r].tolist())))
    with open(path, "w", encoding="latin-1", newline="") as fh:
        fh.write("\n".join(lines) + "\n")
    if bad:
        return 0, 0, 0, [ids[0]]
    valid = cells < VALUE_POOL
    points = int(valid.sum())
    sum_ts_ms = int((valid.sum(axis=1) * ts).sum()) * 1000
    sum_v1000 = int(values[cells].sum())
    return points, sum_ts_ms, sum_v1000, ids


def generate(out_dir, seed, n_files, first_window=0, tag=0):
    """Write `n_files` TEBIS files into `out_dir`; return the manifest rows.
    `first_window` offsets the file windows so corpora generated for one run
    never share timestamps; `tag` separates their random streams."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2, tag])
    values, texts = _value_pool(rng)
    n_wide = max(1, round(n_files * WIDE_FRAC))
    n_bad = max(1, round(n_files * BAD_FRAC))
    roles = rng.permutation(n_files)
    wide = set(roles[:n_wide].tolist())
    bad = set(roles[n_wide:n_wide + n_bad].tolist())
    rows = []
    for f in range(n_files):
        window = first_window + f
        name = f"TEBIS_GEN_{T0 + window * WINDOW_S}.csv"
        frng = np.random.default_rng([seed, 3, tag, f])
        points, sum_ts, sum_v, ids = _write_file(
            os.path.join(out_dir, name), frng, window, f in wide, f in bad, values, texts)
        rows.append({"name": name, "bad": int(f in bad), "points": points, "sum_ts_ms": sum_ts,
                     "sum_v1000": sum_v, "window": window, "ids": ",".join(ids)})
    return rows


def write_manifest(rows, path):
    with open(path, "w") as fh:
        fh.write("\t".join(MANIFEST_COLUMNS) + "\n")
        for r in rows:
            fh.write("\t".join(str(r[c]) for c in MANIFEST_COLUMNS) + "\n")


def write_catalog(seed, path):
    """The pre-seeded catalog, in the engine's catalog layout."""
    ids = catalog_ids(seed)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "externalId": ids,
        "name": [f"Sensor {i}" for i in ids],
        "description": ["seeded" for _ in ids],
    }), os.path.join(path, "part-00000.parquet"))
    return ids


if __name__ == "__main__":
    out, seed, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    rows = generate(os.path.join(out, "corpus"), seed, n)
    write_manifest(rows, os.path.join(out, "manifest.tsv"))
    write_catalog(seed, os.path.join(out, "catalog"))
    print(f"{n} files, {sum(r['points'] for r in rows)} points")
