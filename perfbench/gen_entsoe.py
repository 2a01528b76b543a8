"""Seeded ENTSOE month generator with pure-Python expected outcomes.

Each month file holds an hourly grid of readings (one record per plant
per hour) plus fixed shares of the records the load path has to handle:

- in-file duplicate natural keys (a later copy with another value; the
  first one wins);
- records that break each ENTSOE rule: empty ``plant_name``, negative
  ``generation_mw``, zero and negative ``resolution_minutes`` (invalid),
  and null and unparseable timestamps (skipped before validation);
- ISO-string timestamps, both offset-carrying and naive (read as UTC);
- plant names carrying a data-type and/or fuel-type suffix, which the
  fixup chain strips;
- rows re-sent from the previous month, which the idempotent append must
  skip as already stored.

``expected`` values are computed here from the generated records alone,
never by the engine under test.
"""

from __future__ import annotations

import json
import os
import random
from calendar import monthrange
from dataclasses import dataclass, field
from datetime import date, datetime, timezone

# ENTSO-E PSR code list (public transparency-platform codes).
PSR_FUEL = {
    "B01": "Biomass",
    "B02": "Fossil Brown coal/Lignite",
    "B03": "Fossil Coal-derived gas",
    "B04": "Fossil Gas",
    "B05": "Fossil Hard coal",
    "B06": "Fossil Oil",
    "B07": "Fossil Oil shale",
    "B08": "Fossil Peat",
    "B09": "Geothermal",
    "B10": "Hydro Pumped Storage",
    "B11": "Hydro Run-of-river and poundage",
    "B12": "Hydro Water Reservoir",
    "B13": "Marine",
    "B14": "Nuclear",
    "B15": "Other renewable",
    "B16": "Solar",
    "B17": "Waste",
    "B18": "Wind Offshore",
    "B19": "Wind Onshore",
    "B20": "Other",
}
COUNTRIES = ("DE", "FR", "ES", "IT", "PL", "NL")
HOUR_MS = 3_600_000
CREATED_AT_MS = 1_700_000_000_000

# Shares of the grid size, fixed so every seed exercises every path.
DUP_SHARE = 0.01
ISO_TS_SHARE = 0.02
SUFFIX_SHARE = 0.02
INVALID_SHARE = 0.002  # per rule
RESENT_HOURS = 24  # last day of the previous month, every plant


@dataclass
class Month:
    first_day: date
    last_day: date
    path: str
    run_id: str
    records: int = 0  # lines written
    input_bytes: int = 0
    skipped_ts: int = 0  # null / unparseable timestamps
    invalid: int = 0
    valid: int = 0  # after first-wins
    inserted: int = 0  # on a first load into the preceding months
    resent: int = 0

    @property
    def label(self) -> str:
        return self.first_day.strftime("%Y-%m")


@dataclass
class Expected:
    months: list[Month]
    plants: list[tuple[str, str, str]]  # (country, psr, base name)
    # (month 'yyyy-MM-01', fuel) -> MWh; month -> stored rows
    mwh_by_month_fuel: dict[tuple[str, str], float] = field(default_factory=dict)
    rows_by_month: dict[str, int] = field(default_factory=dict)
    # (plant base name, month 'yyyy-MM-01') -> (sum MW, rows, sum MWh)
    plant_month: dict[tuple[str, str], tuple[float, int, float]] = field(default_factory=dict)

    @property
    def stored_rows(self) -> int:
        return sum(self.rows_by_month.values())

    @property
    def export_rows(self) -> int:
        return len(self.plant_month)


def month_ms(d: date) -> int:
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp() * 1000)


def _iso(ts_ms: int, naive: bool) -> str:
    t = datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S") if naive else t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _run_id(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-8{h[17:20]}-{h[20:32]}"


def generate(out_dir: str, seed: int, n_months: int, n_plants: int) -> Expected:
    """Write ``n_months`` consecutive month files into ``out_dir``,
    starting at a month the seed draws from 2019-2023."""
    rng = random.Random(seed)
    first = date(rng.randint(2019, 2023), rng.randint(1, 12), 1)
    plants = []
    for p in range(n_plants):
        psr = f"B{p % 20 + 1:02d}"
        plants.append((COUNTRIES[rng.randrange(len(COUNTRIES))], psr, f"PLANT_{p:04d}"))
    # A tenth of the plants report half-hour resolution: MWh = MW / 2.
    half_hour = {p for p in range(n_plants) if rng.random() < 0.1}

    exp = Expected(months=[], plants=plants)
    prev_grid: list[dict] = []
    for m in range(n_months):
        last = date(first.year, first.month, monthrange(first.year, first.month)[1])
        month = Month(first, last, f"{out_dir}/entsoe_{first:%Y_%m}.jsonl", _run_id(rng))
        base_ms = month_ms(first)
        hours = (last - first).days * 24 + 24

        # The grid: one valid record per (plant, hour), plant-major.
        grid = []
        for p, (cc, psr, name) in enumerate(plants):
            res = 30 if p in half_hour else 60
            for h in range(hours):
                grid.append(
                    {
                        "extraction_run_id": month.run_id,
                        "created_at_ms": CREATED_AT_MS,
                        "timestamp_ms": base_ms + h * HOUR_MS,
                        "country_code": cc,
                        "psr_type": psr,
                        "plant_name": name,
                        "fuel_type": "Unknown",
                        "data_type": "Actual Aggregated",
                        "generation_mw": round(rng.uniform(0.0, 900.0), 3),
                        "resolution_minutes": res,
                    }
                )
        n = len(grid)
        # Sort keys: grid rows at their index; extras at fractional slots.
        # Index 0 stays first so the file's first record carries this
        # month's run id (the engine takes lineage from it).
        lines: list[tuple[float, dict]] = [(float(i), r) for i, r in enumerate(grid)]
        for i in rng.sample(range(1, n), int(n * ISO_TS_SHARE)):
            grid[i]["timestamp_ms"] = _iso(grid[i]["timestamp_ms"], naive=i % 2 == 0)
        for i in rng.sample(range(1, n), int(n * SUFFIX_SHARE)):
            psr = grid[i]["psr_type"]
            grid[i]["plant_name"] += rng.choice(
                ["_Actual Aggregated", f"_{PSR_FUEL[psr]}", f"_{PSR_FUEL[psr]}_Actual Aggregated"]
            )
        for i in rng.sample(range(1, n - 1), int(n * DUP_SHARE)):
            dup = dict(grid[i], generation_mw=round(rng.uniform(1000.0, 2000.0), 3))
            lines.append((rng.uniform(i + 0.5, n), dup))

        def extra(**over) -> None:
            r = dict(grid[rng.randrange(n)], **over)
            lines.append((rng.uniform(1, n), r))

        k = max(1, int(n * INVALID_SHARE))
        for _ in range(k):
            extra(plant_name="")
            extra(generation_mw=-round(rng.uniform(0.1, 50.0), 3))
            extra(resolution_minutes=0)
            extra(resolution_minutes=-15)
            extra(timestamp_ms=None)
            extra(timestamp_ms="not-a-timestamp")
        month.invalid = 4 * k
        month.skipped_ts = 2 * k

        # Re-sent rows: the previous month's last day, carried under this
        # run's id, already stored.
        resent = [r for r in prev_grid if _ts(r) >= month_ms(first) - RESENT_HOURS * HOUR_MS]
        for r in resent:
            lines.append((rng.uniform(1, n), dict(r, extraction_run_id=month.run_id)))
        month.resent = len(resent)

        lines.sort(key=lambda x: x[0])
        with open(month.path, "w") as fh:
            for _, r in lines:
                fh.write(json.dumps(r) + "\n")
        month.records = len(lines)
        month.valid = n + month.resent
        month.inserted = n
        month.input_bytes = os.path.getsize(month.path)

        mkey = first.strftime("%Y-%m-01")
        exp.rows_by_month[mkey] = n
        for r in grid:
            fuel = PSR_FUEL[r["psr_type"]]
            mwh = r["generation_mw"] * r["resolution_minutes"] / 60.0
            exp.mwh_by_month_fuel[(mkey, fuel)] = exp.mwh_by_month_fuel.get((mkey, fuel), 0.0) + mwh
        for p, (_cc, _psr, name) in enumerate(plants):
            rows = grid[p * hours : (p + 1) * hours]
            exp.plant_month[(name, mkey)] = (
                sum(r["generation_mw"] for r in rows),
                len(rows),
                sum(r["generation_mw"] * r["resolution_minutes"] / 60.0 for r in rows),
            )
        exp.months.append(month)
        prev_grid = grid
        first = date(last.year + (last.month == 12), last.month % 12 + 1, 1)
    return exp


def _ts(r: dict) -> int:
    """Epoch-ms of a grid record whose timestamp may be an ISO string."""
    t = r["timestamp_ms"]
    if isinstance(t, int):
        return t
    return int(datetime.fromisoformat(t.replace(" ", "T")).replace(tzinfo=timezone.utc).timestamp() * 1000)
