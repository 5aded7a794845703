"""Seeded input generators. Every byte the engine reads during a benchmark
run comes from here, so the seed is the only source of variation.

- ``write_corpus``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, one single-row-group parquet file per
  table, with the schemas and row counts of the sf0.1 test corpus
  (TESTDATA.md).
- ``plants_frame`` / ``timeseries_frame``: the reference's two tables as
  FIXTURES.md §1-2 describes them, scaled down.
- ``write_csv``: writes one of the frames above as CSV.

The benchmark runs ``write_corpus`` and ``write_csv`` in a child process,
so the generator's memory stays out of the measured process's peak RSS.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts of the test corpus (TESTDATA.md).
CORPUS_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(start: str, days: float, rng, n: int, whole_days: bool) -> np.ndarray:
    off = rng.uniform(0, days, n)
    unit = np.floor(off * 86400) if not whole_days else np.floor(off) * 86400
    return (np.datetime64(start, "s") + unit.astype("timedelta64[s]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # ~1% exact copies and ~5% near-copies (one token swapped for "dup")
    # of earlier documents, so the dedup plans have something to find
    for i in range(1, n):
        u = rng.random()
        if u < 0.01:
            texts[i] = texts[rng.integers(0, i)]
        elif u < 0.06:
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = "dup"
            texts[i] = " ".join(toks)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def corpus_frames(rng, rows: dict[str, int] = CORPUS_ROWS) -> dict[str, pd.DataFrame]:
    r = rows
    n_cust, n_supp, n_part, n_ord = r["customer"], r["supplier"], r["part"], r["orders"]
    n_li, n_ev, n_emb = r["lineitem"], r["events"], r["embeddings"]
    i32 = lambda a: np.asarray(a, dtype="int32")  # noqa: E731
    emb = rng.normal(0, 0.15, (n_emb, 64)).astype("float32")
    return {
        "region": pd.DataFrame(
            {
                "r_regionkey": i32(range(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["large", "hot", "blue", "old", "red", "green", "tiny", "cold"], n_part),
                        rng.choice(["ring", "bolt", "plate", "nut", "gear", "pipe", "wire", "cap"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord, whole_days=True),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["N", "A", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _ts("1995-01-02", 2497, rng, n_li, whole_days=True),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": np.sort(_ts("2024-01-01", 30, rng, n_ev, whole_days=False)),
                "user_id": rng.integers(0, 1500, n_ev).astype("int64"),
                "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
                "value": np.round(rng.exponential(50, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, r["documents"]),
        "embeddings": pd.DataFrame(
            {
                "vec_id": np.arange(n_emb, dtype="int64"),
                "embedding": list(emb),
                "label": i32(rng.integers(0, 10, n_emb)),
            }
        ),
    }


def write_corpus(out_dir: str, rng, rows: dict[str, int] = CORPUS_ROWS) -> None:
    """Write every corpus table as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in corpus_frames(rng, rows).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, path)


def write_csv(path: str, make, seed, *args) -> None:
    """Write ``make(np.random.default_rng(seed), *args)`` to ``path``."""
    make(np.random.default_rng(seed), *args).to_csv(path, index=False)


# --- reference fixture (FIXTURES.md §1-2) ---------------------------------

TECHNOLOGIES = [
    "Photovoltaics", "Onshore", "Offshore", "Biomass and biogas",
    "Run-of-river", "Photovoltaics ground", "Geothermal", "Sewage gas",
]
SOURCES_L2 = ["Solar", "Wind", "Wind", "Bioenergy", "Hydro", "Solar", "Geothermal", "Bioenergy"]
STATES = [
    "Baden-Wuerttemberg", "Bayern", "Berlin", "Brandenburg", "Bremen", "Hamburg",
    "Hessen", "Mecklenburg-Vorpommern", "Niedersachsen", "Nordrhein-Westfalen",
    "Rheinland-Pfalz", "Saarland", "Sachsen", "Sachsen-Anhalt",
    "Schleswig-Holstein", "Thueringen",
]
TSOS = ["Amprion", "TenneT", "TransnetBW", "50Hertz"]
#: 16 NUTS-1 codes DE1..DEG, 38 NUTS-2 and 401 NUTS-3 codes below them.
NUTS1 = [f"DE{c}" for c in "123456789ABCDEFG"]
NUTS2 = [f"{NUTS1[i % 16]}{1 + i // 16}" for i in range(38)]
NUTS3 = [f"{NUTS2[i % 38]}{chr(ord('A') + i // 38)}" for i in range(401)]

#: Timeseries columns: the 34 of FIXTURES.md §2 plus 6 more to reach 40.
TS_COLUMNS = (
    "ch_bioenergy ch_solar ch_wind_onshore de_bioenergy de_geothermal de_solar "
    "de_wind_offshore de_wind_onshore dk_solar dk_wind_offshore dk_wind_onshore "
    "fr_bioenergy fr_geothermal fr_hydro fr_marine fr_solar fr_wind_onshore "
    "gb_gbn_bioenergy gb_gbn_solar gb_gbn_wind_onshore gb_gbn_wind_offshore "
    "gb_gbn_hydro gb_gbn_marine gb_nir_bioenergy gb_nir_solar gb_nir_wind_onshore "
    "gb_ukm_bioenergy gb_ukm_solar gb_ukm_wind_onshore gb_ukm_wind_offshore "
    "gb_ukm_hydro gb_ukm_marine se_wind_onshore se_wind_offshore "
    "at_solar at_wind_onshore be_solar be_wind_onshore it_solar"
).split()


def _padded(rng, codes, n):
    pad = rng.choice(["", "", " ", "  "], n)
    return [p + c + p for p, c in zip(pad, rng.choice(codes, n))]


def plants_frame(rng, n: int) -> pd.DataFrame:
    """``renewable_power_plants_de``: the 23 reference columns."""
    tech = rng.integers(0, len(TECHNOLOGIES), n)
    lon_null = rng.random(n) < 0.05
    state = rng.integers(0, len(STATES), n)
    return pd.DataFrame(
        {
            "electrical_capacity": np.round(np.clip(rng.lognormal(0.0, 1.2, n), 0.001, 200), 3),
            "energy_source_level_1": "Renewable energy",
            "energy_source_level_2": [SOURCES_L2[t] for t in tech],
            "energy_source_level_3": np.where(rng.random(n) < 0.9, None, "Biomass"),
            "technology": [TECHNOLOGIES[t] for t in tech],
            "data_source": rng.choice(TSOS, n),
            "nuts_1_region": _padded(rng, NUTS1, n),
            "nuts_2_region": _padded(rng, NUTS2, n),
            "nuts_3_region": _padded(rng, NUTS3, n),
            "lon": np.where(lon_null, np.nan, np.round(rng.uniform(5.5, 15.5, n), 5)),
            "lat": np.where(lon_null, np.nan, np.round(rng.uniform(47, 55, n), 5)),
            "municipality": np.where(
                rng.random(n) < 0.4, None, [f"Gemeinde {i}" for i in rng.integers(0, 900, n)]
            ),
            "municipality_code": rng.integers(1_000_000, 9_999_999, n),
            "postcode": np.where(rng.random(n) < 0.1, np.nan, rng.integers(10000, 99999, n).astype(float)),
            "address": np.where(rng.random(n) < 0.7, None, [f"Strasse {i}" for i in rng.integers(1, 500, n)]),
            "federal_state": [STATES[s] for s in state],
            "commissioning_date": (
                np.datetime64("1990-01-01") + rng.integers(0, 11_000, n).astype("timedelta64[D]")
            ).astype(str),
            "decommissioning_date": np.where(
                rng.random(n) < 0.98,
                None,
                (np.datetime64("2010-01-01") + rng.integers(0, 3650, n).astype("timedelta64[D]")).astype(str),
            ),
            "voltage_level": rng.choice(["low voltage", "medium voltage", "high voltage"], n),
            "eeg_id": np.where(rng.random(n) < 0.95, None, [f"E{i:010d}" for i in rng.integers(0, 10**9, n)]),
            "dso": [f"Netz {i}" for i in rng.integers(0, 60, n)],
            "dso_id": rng.integers(10_000_000, 99_999_999, n).astype(float),
            "tso": rng.choice(TSOS, n),
        }
    )


def timeseries_frame(rng) -> pd.DataFrame:
    """``renewable_capacity_timeseries``: one row per day 1980-2020, every
    day twice (so DISTINCT is observable), 39 monotone step-function
    capacity columns that are zero before each source's start year."""
    days = pd.date_range("1980-01-01", "2020-12-31", freq="D")
    n = len(days)
    cols = {"day": days.strftime("%Y-%m-%d")}
    for c in TS_COLUMNS:
        start = rng.integers(0, n // 2)
        steps = np.where(rng.random(n) < 0.02, np.round(rng.exponential(5.0, n), 3), 0.0)
        steps[:start] = 0.0
        cols[f"{c}_capacity"] = np.round(np.cumsum(steps), 3)
    df = pd.DataFrame(cols)
    return pd.concat([df, df]).sort_values("day", kind="stable").reset_index(drop=True)
