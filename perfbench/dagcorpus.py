"""Seeded raw Eurostat corpus for the ``dag`` workload.

Writes the four ``raw_*`` source tables in the FIXTURES.md §1 schemas,
each as a parquet DIRECTORY (``raw_gdp.parquet/part-00000.parquet``)
so an incremental cycle can land new part files next to the old ones.

Shape, per seed:

- geos are the 10 codes of the seed CSV
  (``sources/seeds/country_metadata.csv``). ROADMAP §1 suggests 10^5+
  synthetic geos; that is not used because the declared
  ``relationships`` test from ``fct_economic_indicators.country_code``
  to ``dim_country`` fails for any geo outside the seed, so every build
  would exit non-zero;
- one ``EU27_2020`` row per year, in ``raw_gdp`` only, equal to the sum
  of the member values, so the singular
  ``assert_eu_aggregate_consistency`` test compares real rows instead
  of passing vacuously;
- years ``first_year..last_year`` (default 2010–2024, the reference's
  ``dbt_project.yml`` span). Long spans are not used:
  ``fct_economic_indicators`` and ``py_anomaly_detection`` are
  partitioned by year, and at 1000 years a first build writes 5000
  files into each and did not finish in 20 minutes on 4 cores, which
  measures file fan-out rather than the DAG;
- NULL ``value`` rows (duplicates of a real key, which staging drops)
  and malformed monthly ``time_code`` rows shorter than ``YYYY-MM``
  (which staging drops), so the staging filters do real work without
  changing the fact grain;
- one zero population, the div-by-zero path of the per-capita metric.

``land_cycle`` is one incremental cycle: it adds the next month to both
monthly tables as a new part file and revises one GDP value (rewriting
the small ``raw_gdp`` part in place), so the next ``build`` merges one
month into the fact and the snapshot closes one version.

Only numpy and pyarrow are used: the corpus is written before any
SparkSession exists, so its cost never lands in a Spark timing.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEOS = {
    "DE": "Germany",
    "FR": "France",
    "IT": "Italy",
    "ES": "Spain",
    "NL": "Netherlands",
    "PL": "Poland",
    "SE": "Sweden",
    "AT": "Austria",
    "NO": "Norway",
    "CH": "Switzerland",
}
EU_AGGREGATE = "EU27_2020"
EXTRACTED_AT = dt.datetime(2025, 1, 15)

_FREQ = {"A": "Annual", "M": "Monthly"}

GDP_SCHEMA = pa.schema(
    [
        ("dataset_code", pa.string()),
        ("value", pa.float64()),
        ("extracted_at", pa.timestamp("us")),
        ("freq_code", pa.string()),
        ("freq_label", pa.string()),
        ("unit_code", pa.string()),
        ("unit_label", pa.string()),
        ("na_item_code", pa.string()),
        ("na_item_label", pa.string()),
        ("geo_code", pa.string()),
        ("geo_label", pa.string()),
        ("time_code", pa.string()),
        ("time_label", pa.string()),
    ]
)
UNEMPLOYMENT_SCHEMA = pa.schema(
    [
        ("dataset_code", pa.string()),
        ("value", pa.float64()),
        ("extracted_at", pa.timestamp("us")),
        ("freq_code", pa.string()),
        ("freq_label", pa.string()),
        ("s_adj_code", pa.string()),
        ("s_adj_label", pa.string()),
        ("age_code", pa.string()),
        ("age_label", pa.string()),
        ("unit_code", pa.string()),
        ("unit_label", pa.string()),
        ("sex_code", pa.string()),
        ("sex_label", pa.string()),
        ("geo_code", pa.string()),
        ("geo_label", pa.string()),
        ("time_code", pa.string()),
        ("time_label", pa.string()),
    ]
)
INFLATION_SCHEMA = pa.schema(
    [
        ("dataset_code", pa.string()),
        ("value", pa.float64()),
        ("extracted_at", pa.timestamp("us")),
        ("freq_code", pa.string()),
        ("freq_label", pa.string()),
        ("coicop_code", pa.string()),
        ("coicop_label", pa.string()),
        ("geo_code", pa.string()),
        ("geo_label", pa.string()),
        ("time_code", pa.string()),
        ("time_label", pa.string()),
    ]
)
POPULATION_SCHEMA = pa.schema(
    [
        ("dataset_code", pa.string()),
        ("value", pa.float64()),
        ("extracted_at", pa.timestamp("us")),
        ("freq_code", pa.string()),
        ("freq_label", pa.string()),
        ("sex_code", pa.string()),
        ("sex_label", pa.string()),
        ("age_code", pa.string()),
        ("age_label", pa.string()),
        ("geo_code", pa.string()),
        ("geo_label", pa.string()),
        ("time_code", pa.string()),
        ("time_label", pa.string()),
    ]
)


def _write_part(table_dir: str, part: str, rows: list[dict], schema: pa.Schema) -> None:
    """Write one part file under a hidden name, then rename it into
    place, so a reader never lists a half-written file."""
    os.makedirs(table_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f".{part}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, os.path.join(table_dir, part))


def _gdp_row(geo: str, label: str, year: int, value: float | None) -> dict:
    return {
        "dataset_code": "nama_10_gdp", "value": value, "extracted_at": EXTRACTED_AT,
        "freq_code": "A", "freq_label": _FREQ["A"],
        "unit_code": "CP_MEUR", "unit_label": "Current prices, million euro",
        "na_item_code": "B1GQ", "na_item_label": "Gross domestic product at market prices",
        "geo_code": geo, "geo_label": label,
        "time_code": str(year), "time_label": str(year),
    }


def _unemployment_row(geo: str, period: str, value: float | None) -> dict:
    return {
        "dataset_code": "une_rt_m", "value": value, "extracted_at": EXTRACTED_AT,
        "freq_code": "M", "freq_label": _FREQ["M"],
        "s_adj_code": "SA", "s_adj_label": "Seasonally adjusted data",
        "age_code": "TOTAL", "age_label": "Total",
        "unit_code": "PC_ACT", "unit_label": "Percentage of population in the labour force",
        "sex_code": "T", "sex_label": "Total",
        "geo_code": geo, "geo_label": GEOS[geo],
        "time_code": period, "time_label": period,
    }


def _inflation_row(geo: str, period: str, value: float | None) -> dict:
    return {
        "dataset_code": "prc_hicp_mmor", "value": value, "extracted_at": EXTRACTED_AT,
        "freq_code": "M", "freq_label": _FREQ["M"],
        "coicop_code": "CP00", "coicop_label": "All-items HICP",
        "geo_code": geo, "geo_label": GEOS[geo],
        "time_code": period, "time_label": period,
    }


def _population_row(geo: str, year: int, value: float | None) -> dict:
    return {
        "dataset_code": "demo_pjan", "value": value, "extracted_at": EXTRACTED_AT,
        "freq_code": "A", "freq_label": _FREQ["A"],
        "sex_code": "T", "sex_label": "Total",
        "age_code": "TOTAL", "age_label": "Total",
        "geo_code": geo, "geo_label": GEOS[geo],
        "time_code": str(year), "time_label": str(year),
    }


def _months(first_year: int, n: int) -> list[str]:
    return [f"{first_year + i // 12}-{i % 12 + 1:02d}" for i in range(n)]


class DagCorpus:
    """The raw corpus of one ``dag`` run: the generated values, the
    directory they live in, and the cycles landed so far.

    Expected-output counts (``fct_rows``, ``snapshot_current``) follow
    from the generated rows alone, so a build's output can be checked
    against them. Each revision closes one snapshot version in the next
    build over a warehouse that already held the revised key."""

    def __init__(self, raw_dir: str, seed: int, first_year: int = 2010, last_year: int = 2024):
        if last_year < first_year:
            raise ValueError(f"empty year span {first_year}..{last_year}")
        self.raw_dir = raw_dir
        self.first_year = first_year
        self.last_year = last_year
        self.rng = np.random.default_rng(seed)
        self.n_months = (last_year - first_year + 1) * 12
        self.cycles = 0
        years = range(first_year, last_year + 1)
        base_gdp = {g: float(self.rng.uniform(2e5, 4e6)) for g in GEOS}
        # (geo, year) -> GDP in million EUR; None marks a NULL raw value
        self.gdp: dict[tuple[str, int], float | None] = {
            (g, y): round(base_gdp[g] * (1.0 + 0.02 * (y - first_year))
                          * float(self.rng.uniform(0.97, 1.03)), 1)
            for g in GEOS for y in years
        }
        for key in self._pick(list(self.gdp), 3):
            self.gdp[key] = None
        self.population = {
            (g, y): float(self.rng.integers(500_000, 85_000_000)) for g in GEOS for y in years
        }
        self.population[self._pick(list(self.population), 1)[0]] = 0.0
        self.base_rate = {g: float(self.rng.uniform(3.0, 12.0)) for g in GEOS}
        self.revisions: list[tuple[str, int]] = []

    def _pick(self, items: list, n: int) -> list:
        idx = self.rng.choice(len(items), size=n, replace=False)
        return [items[int(i)] for i in sorted(idx)]

    # -- generated rows ------------------------------------------------
    def _monthly_rows(self, periods: list[str]) -> tuple[list[dict], list[dict]]:
        unemp, infl = [], []
        for g in GEOS:
            for p in periods:
                u = round(self.base_rate[g] + float(self.rng.normal(0.0, 0.4)), 1)
                unemp.append(_unemployment_row(g, p, max(u, 0.5)))
                infl.append(_inflation_row(g, p, round(float(self.rng.normal(0.2, 0.3)), 1)))
        return unemp, infl

    def _gdp_rows(self) -> list[dict]:
        rows = [_gdp_row(g, GEOS[g], y, v) for (g, y), v in self.gdp.items()]
        for y in range(self.first_year, self.last_year + 1):
            members = [v for (g, yy), v in self.gdp.items() if yy == y and v is not None]
            rows.append(_gdp_row(EU_AGGREGATE, "European Union - 27 countries",
                                 y, round(sum(members), 1)))
        return rows

    def write(self) -> None:
        """Write the initial corpus (all four tables, one part each)."""
        periods = _months(self.first_year, self.n_months)
        unemp, infl = self._monthly_rows(periods)
        # staging drops both kinds of junk row, leaving the fact grain
        # at exactly geos x months
        for geo, period in self._pick([(g, p) for g in GEOS for p in periods], 5):
            unemp.append(_unemployment_row(geo, period, None))
            infl.append(_inflation_row(geo, period, None))
        for geo in self._pick(list(GEOS), 3):
            year = str(self.first_year)
            unemp.append(_unemployment_row(geo, year, 9.9))
            infl.append(_inflation_row(geo, f"{year}-1", 0.1))
        population = [_population_row(g, y, v) for (g, y), v in self.population.items()]
        population.append(_population_row(self._pick(list(GEOS), 1)[0], self.first_year, None))
        _write_part(self.table("raw_gdp"), "part-00000.parquet", self._gdp_rows(), GDP_SCHEMA)
        _write_part(self.table("raw_unemployment"), "part-00000.parquet", unemp,
                    UNEMPLOYMENT_SCHEMA)
        _write_part(self.table("raw_inflation"), "part-00000.parquet", infl, INFLATION_SCHEMA)
        _write_part(self.table("raw_population"), "part-00000.parquet", population,
                    POPULATION_SCHEMA)

    def land_cycle(self) -> None:
        """One incremental cycle: the next month for every geo in both
        monthly tables, plus a 2% revision of one member GDP value (the
        EU aggregate stays within the singular test's 5% tolerance)."""
        self.cycles += 1
        period = _months(self.first_year, self.n_months + self.cycles)[-1]
        unemp, infl = self._monthly_rows([period])
        part = f"part-c{self.cycles:05d}.parquet"
        _write_part(self.table("raw_unemployment"), part, unemp, UNEMPLOYMENT_SCHEMA)
        _write_part(self.table("raw_inflation"), part, infl, INFLATION_SCHEMA)
        key = self._pick([k for k, v in self.gdp.items() if v is not None], 1)[0]
        self.gdp[key] = round(self.gdp[key] * 1.02, 1)
        self.revisions.append(key)
        _write_part(self.table("raw_gdp"), "part-00000.parquet", self._gdp_rows(), GDP_SCHEMA)

    # -- expected outputs ----------------------------------------------
    def table(self, name: str) -> str:
        return os.path.join(self.raw_dir, f"{name}.parquet")

    @property
    def fct_rows(self) -> int:
        return len(GEOS) * (self.n_months + self.cycles)

    @property
    def snapshot_current(self) -> int:
        """One open version per non-NULL GDP key, members and EU rows."""
        n_years = self.last_year - self.first_year + 1
        return sum(v is not None for v in self.gdp.values()) + n_years
