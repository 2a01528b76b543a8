"""``etl`` workload: the monthly ENTSOE job, then its catch-up re-run and
an analyst's dashboard session, against one warehouse that starts empty.

One pass, issued by one closed-loop client, one call at a time:

1. catch-up, per generated month: ``incremental.incremental_extract``
   (one month of new data; the extractor copies the pre-generated file,
   because the loop deletes each file after loading it), then
   ``Engine.refresh_views_incremental([month])`` and
   ``Engine.get_latest_date``;
2. re-run of the latest month: ``incremental_extract`` again with
   ``START_OVERRIDE`` on that month, so every record is already stored;
3. ``Engine.refresh_views`` and ``Engine.aggregate_export``;
4. dashboard queries through ``Engine.sql``, each collected.

Outputs are checked against the generator's pure-Python expectations
between phases, outside the timed calls.
"""

from __future__ import annotations

import math
import os
import shutil
from datetime import date

import gen_entsoe

N_MONTHS = 2
N_PLANTS = 12
SOURCE = "entsoe"
TABLE = "entsoe_generation_data"
NATURAL_KEY = ("timestamp_ms", "country_code", "psr_type", "plant_name")
# Traced, a dashboard call (``Engine.sql`` and the collect that runs it)
# is the ``engine.sql`` span.
SPANS = {"dashboard": "engine.sql"}


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _keyed(want: dict):
    """Check for rows ``(*key, value)`` against ``{key: value}``; a
    one-column key is matched as a scalar."""

    def check(rows: list[tuple]) -> bool:
        got = {(r[0] if len(r) == 2 else r[:-1]): r[-1] for r in rows}
        return len(got) == len(rows) and got.keys() == want.keys() and all(
            _close(got[k], want[k]) for k in want
        )

    return check


class EtlWorkload:
    def __init__(self, client, work: str, seed: int):
        self.c = client
        self.work = work
        src = os.path.join(work, "source")
        self.drop = os.path.join(work, "extract")
        os.makedirs(src)
        os.makedirs(self.drop)
        self.exp = gen_entsoe.generate(src, seed, N_MONTHS, N_PLANTS)
        self.by_label = {m.label: m for m in self.exp.months}
        self.passes = 0
        self.bytes_per_input_byte = 0.0

    def sizes(self) -> dict:
        return {
            "months": N_MONTHS,
            "plants": N_PLANTS,
            "records": sum(m.records for m in self.exp.months),
            "input_bytes": sum(m.input_bytes for m in self.exp.months),
        }

    def _extractor(self, m_start: date, m_end: date) -> str | None:
        m = self.by_label.get(m_start.strftime("%Y-%m"))
        if m is None:
            return None
        out = os.path.join(self.drop, os.path.basename(m.path))
        shutil.copyfile(m.path, out)
        return out

    def _extract(self, today: date) -> list[dict]:
        from power_generation_etl_spark import incremental

        return incremental.incremental_extract(self.engine, SOURCE, self._extractor, today=today)

    def run(self) -> None:
        """One pass, into a fresh empty warehouse."""
        from power_generation_etl_spark.engine import Engine

        self.passes += 1
        self.engine = Engine(self.c.spark, os.path.join(self.work, f"warehouse-{self.passes}"))
        c, eng, exp = self.c, self.engine, self.exp

        for m in exp.months:
            res = c.op("catchup_load", self._extract, m.last_day)
            c.check(
                res == [{"month": m.label, "inserted": m.inserted, "skipped": m.resent,
                         "invalid": m.invalid}],
                f"catch-up {m.label}: {res}",
            )
            c.op("refresh_incremental", eng.refresh_views_incremental, [m.label], SOURCE)
            wm = c.op("watermark", eng.get_latest_date, SOURCE)
            c.check(wm == m.last_day.isoformat(), f"watermark {wm} after {m.label}")
        self._check_table()
        self._check_monthly_view()

        m = exp.months[-1]
        os.environ["START_OVERRIDE"] = m.first_day.isoformat()
        try:
            res = c.op("rerun_load", self._extract, m.last_day)
        finally:
            del os.environ["START_OVERRIDE"]
        c.check(
            res == [{"month": m.label, "inserted": 0, "skipped": m.valid, "invalid": m.invalid}],
            f"re-run {m.label}: {res}",
        )
        self._check_table()

        c.op("refresh_full", eng.refresh_views, SOURCE)
        export = os.path.join(self.work, f"export-{self.passes}")
        ok, rows = c.op("export", eng.aggregate_export, export)
        c.check(ok and rows == exp.export_rows, f"export rows {rows} != {exp.export_rows}")
        self._check_monthly_view()

        for sql, check in self._dashboards():
            rows = c.op("dashboard", lambda q: [tuple(r) for r in eng.sql(q).collect()], sql)
            c.check(check(rows), f"dashboard {sql!r} -> {rows[:5]}")

        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(eng.store.root)
            for f in files
            if f.endswith(".parquet")
        )
        self.bytes_per_input_byte = stored / self.sizes()["input_bytes"]

    # -- checks ----------------------------------------------------------
    def _check_table(self) -> None:
        from pyspark.sql import functions as F

        df = self.engine.table(TABLE)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in NATURAL_KEY]).alias("keys"),
        ).head()
        self.c.check(row["n"] == self.exp.stored_rows, f"stored {row['n']} != {self.exp.stored_rows}")
        self.c.check(row["keys"] == row["n"], f"{row['n'] - row['keys']} duplicate natural keys")

    def _check_monthly_view(self) -> None:
        got = {
            (r["month"], r["fuel_type"]): r["generation_mwh"]
            for r in self.engine.table("mv_entsoe_monthly").collect()
        }
        want = self.exp.mwh_by_month_fuel
        self.c.check(
            got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want),
            "mv_entsoe_monthly sums differ from the generator's",
        )

    def _dashboards(self):
        exp = self.exp
        fuel = exp.mwh_by_month_fuel
        by_month: dict[str, float] = {}
        for (mo, _f), v in fuel.items():
            by_month[mo] = by_month.get(mo, 0.0) + v
        country = exp.plants[0][0]
        cc_mwh: dict[str, float] = {}
        for (name, mo), (_mw, _n, mwh) in exp.plant_month.items():
            if any(p[2] == name and p[0] == country for p in exp.plants):
                cc_mwh[mo] = cc_mwh.get(mo, 0.0) + mwh
        plant = exp.plants[len(exp.plants) // 2][2]
        lo = gen_entsoe.month_ms(exp.months[0].first_day)
        hi = gen_entsoe.month_ms(exp.months[-1].last_day) + 86_400_000
        p_mw = sum(v[0] for (n, _mo), v in exp.plant_month.items() if n == plant)
        p_rows = sum(v[1] for (n, _mo), v in exp.plant_month.items() if n == plant)
        first, last = exp.months[0], exp.months[-1]

        return [
            (
                "SELECT month, fuel_type, generation_mwh FROM unified_monthly "
                f"WHERE source = '{SOURCE}'",
                _keyed(fuel),
            ),
            (
                "SELECT month, row_count FROM mv_entsoe_row_counts",
                lambda rows: dict(rows) == exp.rows_by_month,
            ),
            (
                "SELECT month, sum(generation_mwh) FROM mv_entsoe_plant_monthly "
                f"WHERE country_code = '{country}' GROUP BY month",
                _keyed(cc_mwh),
            ),
            (
                "SELECT month, sum(generation_mwh) FROM mv_entsoe_monthly GROUP BY month",
                _keyed(by_month),
            ),
            (
                "SELECT total_runs, total_records, total_failed, "
                "CAST(earliest_data AS STRING), CAST(latest_data AS STRING) "
                f"FROM extraction_summary WHERE source = '{SOURCE}'",
                lambda rows: rows == [(
                    len(exp.months),
                    sum(m.records - m.skipped_ts for m in exp.months),
                    sum(m.invalid for m in exp.months),
                    first.first_day.isoformat(),
                    last.last_day.isoformat(),
                )],
            ),
            (
                f"SELECT count(*), sum(generation_mw) FROM {TABLE} "
                f"WHERE plant_name = '{plant}' AND timestamp_ms >= {lo} AND timestamp_ms < {hi}",
                lambda rows: len(rows) == 1 and rows[0][0] == p_rows and _close(rows[0][1], p_mw),
            ),
        ]
