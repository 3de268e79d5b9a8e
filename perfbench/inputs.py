"""Seeded input generators for the load benchmark.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical files. Files and the generator's expected checksums
are cached in the work directory under a name that carries seed and
size, so a repeated run with the same seed skips generation.

The expected checksums are computed here from the generated values, not
by reading the files back, so a load that drops, duplicates or mangles
rows cannot agree with them by accident.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np

_LETTERS = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ", dtype="S1"
)

# CSV header of the typed input. Its order differs from the target table's
# (perfbench.workloads): ``extra`` has no target column (reconcile drops
# it) and the table's ``region`` is missing (reconcile NULL-fills it).
TYPED_CSV_HEADER = ("note", "ts", "id", "extra", "flag", "price", "d", "score", "qty")
NULL_SHARE = 0.05
_EPOCH_DAY_LO = 17532  # 2018-01-01
_EPOCH_DAY_SPAN = 2000


def md5_prefix(text: str) -> int:
    """First 15 hex digits of the md5 of ``text`` as an integer; Spark
    computes the same with conv(substr(md5(...), 1, 15), 16, 10)."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def _cached(path: Path, build) -> dict:
    """Return the expected-checksum record of ``path``, building the file
    and its ``.json`` sidecar first when either is missing."""
    meta = path.with_suffix(".json")
    if path.exists() and meta.exists():
        return json.loads(meta.read_text())
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    expected = build(tmp)
    os.replace(tmp, path)
    expected["bytes"] = path.stat().st_size
    meta.write_text(json.dumps(expected))
    return expected


def ref_csv(work: Path, seed: int, rows: int, cols: int = 10, width: int = 32) -> tuple[Path, dict]:
    """The reference's perf input: random [a-zA-Z]{width} cells under a
    ``c-0..c-N`` header, the format of ``bench._big_sample_csv``, but
    drawn from ``seed`` and written into the work directory.

    Expected: row count and the sum over rows of md5_prefix of the cells
    joined by ``\\x1f``."""
    path = work / f"ref_s{seed}_{rows}x{cols}x{width}.csv"

    def build(tmp: Path) -> dict:
        rng = np.random.default_rng(seed)
        checksum = 0
        with open(tmp, "w") as f:
            f.write(",".join(f"c-{i}" for i in range(cols)) + "\n")
            for lo in range(0, rows, 20_000):
                n = min(20_000, rows - lo)
                cells = _LETTERS[rng.integers(0, len(_LETTERS), size=(n, cols, width))]
                cells = cells.view(f"S{width}").reshape(n, cols).astype(str)
                lines = []
                for r in cells:
                    checksum += md5_prefix("\x1f".join(r))
                    lines.append(",".join(r))
                f.write("\n".join(lines) + "\n")
        return {"rows": rows, "md5_sum": str(checksum)}

    return path, _cached(path, build)


def _typed_values(seed: int, rows: int) -> dict:
    """Column arrays of the typed workload; a nullable column is a pair
    (values, null mask). Doubles are multiples of 1/8 below 10**6, so
    their sums are exact in any order."""
    rng = np.random.default_rng(seed)
    ids = np.arange(rows, dtype=np.int64)

    def nulls() -> np.ndarray:
        return rng.random(rows) < NULL_SHARE

    qty = rng.integers(0, 1000, rows)
    cents = rng.integers(-10_000_000, 100_000_000, rows)
    eighths = rng.integers(0, 8 * 1_000_000, rows)
    days = _EPOCH_DAY_LO + rng.integers(0, _EPOCH_DAY_SPAN, rows)
    secs = days.astype(np.int64) * 86400 + rng.integers(0, 86400, rows)
    flag = rng.random(rows) < 0.5
    note_len = rng.integers(4, 24, rows)
    letters = _LETTERS[rng.integers(0, len(_LETTERS), size=(rows, 24))]
    # NUL bytes past each note's length; numpy drops trailing NULs
    letters[np.arange(24) >= note_len[:, None]] = b""
    notes = letters.view("S24").reshape(rows).astype(str)
    extra = rng.integers(0, 10**8, rows)
    return {
        "id": ids,
        "qty": (qty, nulls()),
        "price": (cents, nulls()),
        "score": (eighths, nulls()),
        "d": (days, nulls()),
        "ts": (secs, nulls()),
        "flag": (flag, nulls()),
        "note": (notes, nulls()),
        "extra": extra,
    }


def _typed_expected(v: dict, rows: int) -> dict:
    """Per-column checksums, matching perfbench.workloads.TYPED_CHECK_SQL."""

    def live(col):
        values, null = v[col]
        return values[~null], int(null.sum())

    ids = v["id"]
    out = {"rows": rows, "id_sum": int(ids.sum())}
    qty, out["qty_nulls"] = live("qty")
    out["qty_sum"] = int(qty.sum())
    out["id_qty_sum"] = int((ids[~v["qty"][1]] * qty).sum())
    cents, out["price_nulls"] = live("price")
    out["price_cents_sum"] = int(cents.sum())
    eighths, out["score_nulls"] = live("score")
    out["score_eighths_sum"] = int(eighths.sum())
    days, out["d_nulls"] = live("d")
    out["d_days_sum"] = int(days.sum())
    secs, out["ts_nulls"] = live("ts")
    out["ts_secs_sum"] = int(secs.sum())
    flags, out["flag_nulls"] = live("flag")
    out["flag_true"] = int(flags.sum())
    notes, n_null = v["note"]
    out["note_nulls"] = int(n_null.sum())
    live_ids, live_notes = ids[~n_null].tolist(), notes[~n_null].tolist()
    out["id_note_md5_sum"] = str(
        sum(md5_prefix(f"{i}:{s}") for i, s in zip(live_ids, live_notes))
    )
    out["region_nulls"] = rows
    return out


def _typed_table(v: dict):
    """The typed columns in TYPED_CSV_HEADER order as an Arrow table,
    nulls where the generator drew them (the CSV writer leaves those
    cells empty)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def col(name, values):
        return pa.array(values, mask=v[name][1])

    cents = v["price"][0]
    whole = pa.array(np.abs(cents) // 100).cast(pa.string())
    frac = pc.utf8_lpad(pa.array(np.abs(cents) % 100).cast(pa.string()), 2, "0")
    sign = pa.array(np.where(cents < 0, "-", ""))
    price = pc.binary_join_element_wise(sign, whole, "")
    price = pc.binary_join_element_wise(price, frac, ".")
    columns = {
        "id": pa.array(v["id"]),
        "qty": col("qty", v["qty"][0]),
        "price": pc.if_else(pa.array(v["price"][1]), pa.scalar(None, pa.string()), price),
        "score": col("score", v["score"][0] / 8),
        "d": col("d", v["d"][0].astype("datetime64[D]")),
        "ts": col("ts", v["ts"][0].astype("datetime64[s]")),  # written 2018-01-01 00:00:00
        "flag": col("flag", v["flag"][0]),
        "note": col("note", v["note"][0]),
        "extra": pa.array(v["extra"]),
    }
    return pa.table({name: columns[name] for name in TYPED_CSV_HEADER})


def typed_csv(work: Path, seed: int, rows: int) -> tuple[Path, dict]:
    """Typed CSV in TYPED_CSV_HEADER order, with a header row."""
    path = work / f"typed_s{seed}_{rows}r.csv"

    def build(tmp: Path) -> dict:
        import pyarrow.csv as pa_csv

        v = _typed_values(seed, rows)
        with open(tmp, "wb") as f:
            f.write((",".join(TYPED_CSV_HEADER) + "\n").encode())
            pa_csv.write_csv(
                _typed_table(v), f,
                pa_csv.WriteOptions(include_header=False, quoting_style="none"),
            )
        return _typed_expected(v, rows)

    return path, _cached(path, build)
