"""Seeded synthetic CAL-ACCESS release, derived from the schema registry.

Every one of the registry's tables gets one ``<TABLE>.TSV`` with a
header line and rows whose field values match each column's declared
kind.  A few wide itemization tables hold most of the rows; the rest
are narrow lookup-sized tables.

Pathologies are injected into an exact, seeded subset of each table's
rows, so the expected outcome of cleaning is known row for row:

- quarantined (field count differs from the schema): short rows and
  long rows;
- repaired or typed to NULL but still loaded: CRLF endings, control
  characters, a leading BOM, Windows-1252 punctuation, bad dates and
  empty amounts.

``make_release`` returns the per-table expectation the benchmark
checks the loaded lake against.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np

#: Share of ALL rows that land in these wide itemization tables.
HEAVY_SHARE = {
    "RCPT_CD": 0.36,
    "EXPN_CD": 0.18,
    "FILER_FILINGS_CD": 0.12,
    "SMRY_CD": 0.12,
    "CVR_CAMPAIGN_DISCLOSURE_CD": 0.06,
    "LOAN_CD": 0.04,
    "S497_CD": 0.04,
    "DEBT_CD": 0.04,
}

#: Per-row injection rates.  QUARANTINE_KINDS change the tab-field
#: count; the others must leave it intact.
RATES = {
    "short": 0.004,
    "long": 0.004,
    "crlf": 0.03,
    "ctrl": 0.02,
    "bom": 0.005,
    "cp1252": 0.005,
    "bad_date": 0.02,
    "empty_amount": 0.05,
}
QUARANTINE_KINDS = ("short", "long")
QUARANTINE_RATE = sum(RATES[k] for k in QUARANTINE_KINDS)

_WORDS = np.array(
    "SMITH JONES GARCIA LEE NGUYEN BROWN DAVIS LOPEZ WILSON CHEN "
    "SACRAMENTO OAKLAND FRESNO IRVINE ALAMEDA MARIN SONOMA KERN "
    "ACME COMMITTEE FRIENDS OF CALIFORNIANS FOR TEACHERS NURSES "
    "UNION PAC FUND CAMPAIGN RETIRED ATTORNEY ENGINEER OWNER "
    "CONSULTANT HOMEMAKER PHYSICIAN MEASURE YES NO ON PROP".split(),
    dtype=object,
)
_POOL = 1024


def _pools(rng: np.random.Generator) -> dict[str, np.ndarray]:
    """One pool of valid raw values per column kind.  Indexing a pool
    keeps generation O(rows) in numpy instead of formatting each cell."""
    months = rng.integers(1, 13, _POOL)
    days = rng.integers(1, 29, _POOL)
    years = rng.integers(1999, 2024, _POOL)
    hours = rng.integers(1, 13, _POOL)
    cents = rng.integers(0, 5_000_000, _POOL)
    w = rng.integers(0, len(_WORDS), (_POOL, 2))
    return {
        "string": np.array(
            [f"{_WORDS[a]} {_WORDS[b]}" for a, b in w], dtype=object
        ),
        "int": np.array([str(v) for v in rng.integers(0, 1000, _POOL)], dtype=object),
        "long": np.array(
            [str(v) for v in rng.integers(1_000_000, 3_000_000, _POOL)], dtype=object
        ),
        "decimal": np.array(
            [f"{c // 100}.{c % 100:02d}" for c in cents], dtype=object
        ),
        "date_mdy": np.array(
            [f"{m}/{d}/{y}" for m, d, y in zip(months, days, years)], dtype=object
        ),
        "ts_mdy12": np.array(
            [
                f"{m}/{d}/{y} {h}:{d:02d}:{m:02d} {'AM' if h % 2 else 'PM'}"
                for m, d, y, h in zip(months, days, years, hours)
            ],
            dtype=object,
        ),
        "yn": np.array(["Y", "N", ""] * (_POOL // 3 + 1), dtype=object)[:_POOL],
    }


def _pool_key(kind: str) -> str:
    return "decimal" if kind.startswith("decimal") else kind


def table_rows(total_rows: int, narrow_rows: int, names: list[str]) -> dict[str, int]:
    """Row count per table: the heavy tables split ``total_rows`` by
    HEAVY_SHARE; every other table gets ``narrow_rows``."""
    return {
        n: max(1, round(total_rows * HEAVY_SHARE[n])) if n in HEAVY_SHARE else narrow_rows
        for n in names
    }


def expected_counts(n_rows: int) -> dict[str, int]:
    """Exact number of rows of each injected kind in an ``n_rows`` table.
    The kinds are assigned to disjoint rows, so the quarantined count is
    the sum of the quarantine kinds."""
    out = {k: math.floor(n_rows * r) for k, r in RATES.items()}
    out["quarantined"] = sum(out[k] for k in QUARANTINE_KINDS)
    out["good"] = n_rows - out["quarantined"]
    return out


def _table_lines(
    rng: np.random.Generator, pools: dict, columns: dict[str, str], n: int
) -> tuple[list[str], dict[str, int]]:
    names = list(columns)
    kinds = [columns[c] for c in names]
    cells = np.empty((n, len(names)), dtype=object)
    for j, k in enumerate(kinds):
        cells[:, j] = pools[_pool_key(k)][rng.integers(0, _POOL, n)]

    exp = expected_counts(n)
    order = rng.permutation(n)
    assigned: dict[str, np.ndarray] = {}
    start = 0
    for kind in RATES:
        assigned[kind] = order[start : start + exp[kind]]
        start += exp[kind]

    date_cols = [j for j, k in enumerate(kinds) if k == "date_mdy"]
    amt_cols = [j for j, k in enumerate(kinds) if k.startswith("decimal")]
    str_cols = [j for j, k in enumerate(kinds) if k == "string"] or [0]
    for i in assigned["bad_date"]:
        if date_cols:
            cells[i, date_cols[i % len(date_cols)]] = "13/45/20XX"
    for i in assigned["empty_amount"]:
        if amt_cols:
            cells[i, amt_cols[i % len(amt_cols)]] = ""
    for i in assigned["ctrl"]:
        j = str_cols[i % len(str_cols)]
        cells[i, j] = f"{cells[i, j]}\x01X\x07"
    for i in assigned["cp1252"]:
        j = str_cols[i % len(str_cols)]
        cells[i, j] = f"\u201c{cells[i, j]}\u2019\u2013"

    lines = ["\t".join(r) for r in cells.tolist()]
    ncols = len(names)
    for i in assigned["short"]:
        if ncols > 1:
            keep = 1 + int(rng.integers(0, ncols - 1))
            lines[i] = "\t".join(cells[i, :keep])
        else:  # a 1-field row cannot be shorter: quarantine it as long
            lines[i] += "\tSHORT"
    for i in assigned["long"]:
        lines[i] += "\tEXTRA"
    for i in assigned["crlf"]:
        lines[i] += "\r"
    for i in assigned["bom"]:
        lines[i] = "\ufeff" + lines[i]
    return lines, exp


def make_release(
    out_dir: str | Path,
    seed: int,
    total_rows: int,
    narrow_rows: int,
    tables: list[str] | None = None,
) -> dict[str, dict]:
    """Write one seeded release into ``out_dir``; return, per table, the
    expected ``rows`` / ``good`` / ``quarantined`` counts and file
    ``bytes``.  Raises if the release's quarantine share strays from
    QUARANTINE_RATE by more than per-table rounding allows."""
    from calaspark.ingest.schemas import SCHEMAS

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    names = tables or sorted(SCHEMAS)
    rng = np.random.default_rng(seed)
    pools = _pools(rng)
    expect = {}
    for name, n in table_rows(total_rows, narrow_rows, names).items():
        columns = SCHEMAS[name]
        lines, exp = _table_lines(rng, pools, columns, n)
        header = "\t".join(columns)
        body = "\n".join([header, *lines]) + "\n"
        path = out / f"{name}.TSV"
        path.write_bytes(body.encode("utf-8"))
        expect[name] = {
            "rows": n,
            "good": exp["good"],
            "quarantined": exp["quarantined"],
            "bytes": path.stat().st_size,
        }
    rows = sum(e["rows"] for e in expect.values())
    bad = sum(e["quarantined"] for e in expect.values())
    # floor() per table loses < 1 row per kind per table
    slack = len(QUARANTINE_KINDS) * len(expect) / rows
    if not QUARANTINE_RATE - slack <= bad / rows <= QUARANTINE_RATE:
        raise RuntimeError(
            f"quarantine share {bad / rows:.5f} does not match the injected "
            f"rate {QUARANTINE_RATE:.5f} (slack {slack:.5f})"
        )
    return expect
