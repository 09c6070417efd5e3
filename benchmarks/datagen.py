"""Seeded input generators. The same seed always yields the same inputs.

`tables` builds the TPC-H-shaped star schema plus the `events`,
`documents` and `embeddings` tables the registered queries read, at a
scale factor (sf 0.1 = 600k lineitem rows). `covid_inputs` builds the
reference pipeline's CSV inputs (FIXTURES.md sections 1-8): wide JHU
snapshots, US state dailies, county populations, country populations,
the location rename map, GHCN stations, countries and long-format
daily weather.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
P_ADJ = ["large", "hot", "blue", "red", "new", "small", "old", "green"]
P_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gear", "nut", "pipe"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def orders(rng: np.random.Generator, n: int, n_cust: int, key0: int = 0) -> pd.DataFrame:
    return pd.DataFrame({
        "o_orderkey": np.arange(key0, key0 + n, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _ts(rng, n, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = orders(rng, n_ord, n_cust)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2499)})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):  # near-duplicates
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.integers(1, n_doc, max(1, n_doc // 600)):  # exact duplicates
        texts[i] = texts[i - 1]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc, p=[.4, .15, .15, .15, .15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    v = rng.normal(size=(n_vec, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_vec).astype("int32")})
    return t


def write_tables(tabs: dict[str, pd.DataFrame], out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name, df in tabs.items():
        if name == "embeddings":
            arr = pa.table({
                "vec_id": pa.array(df["vec_id"]),
                "embedding": pa.array([x.tolist() for x in df["embedding"]],
                                      type=pa.list_(pa.float32())),
                "label": pa.array(df["label"])})
        else:
            arr = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(arr, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# reference pipeline inputs

JHU_DATES = pd.date_range("2020-01-22", "2020-04-26")
WEATHER_DATES = pd.date_range("2018-01-01", "2020-05-31")
WEATHER_GAP_END = pd.Timestamp("2019-12-31")  # gaps only before this day


def covid_inputs(seed: int, n_countries: int, n_states: int) -> dict[str, pd.DataFrame]:
    """Reference-shaped pipeline inputs plus `expected`: the locations
    the pipeline must keep and their last-day cumulative confirmed
    count, computed from the inputs alone."""
    rng = np.random.default_rng(seed)
    date_cols = [d.strftime("_%-m_%-d_%y") for d in JHU_DATES]
    last_day = int(JHU_DATES[-1].strftime("%Y%m%d"))

    def two_letters(i):
        return chr(65 + i // 26) + chr(65 + i % 26)

    countries = [f"Country {i:02d}" for i in range(n_countries)]
    codes = [two_letters(i) for i in range(n_countries)]  # GHCN country codes
    states = [two_letters(i) for i in range(n_states)]  # US state codes
    renamed = {c: c.replace("Country", "Oldland") for c in countries[::5]}

    def cum():
        start = rng.integers(0, len(date_cols) // 2)
        inc = rng.poisson(rng.uniform(1, 40), len(date_cols))
        inc[:start] = 0
        return np.cumsum(inc)

    wide = {k: [] for k in ("confirmed", "recovered", "death")}
    match, expected = [], {}
    for c in countries:
        # renamed countries carry provinces: the rename map matches on
        # (country, province) and country-level rows have no province
        split = c in renamed or rng.random() < 0.4
        provs = [f"Prov {j}" for j in range(rng.integers(2, 4))] if split else [None]
        total = 0
        for p in provs:
            series = {k: cum() for k in wide}
            series["recovered"] = series["recovered"] // 3
            series["death"] = series["death"] // 10
            for k in wide:
                wide[k].append([p, renamed.get(c, c), 10.0, 20.0, "POINT(20 10)", *series[k]])
            if c in renamed:
                match.append((renamed[c], p, c, p))
            total += int(series["confirmed"][-1])
        expected[(c, "UNK")] = total
    cols = ["province_state", "country_region", "latitude", "longitude", "location_geom",
            *date_cols]
    out = {f"jhu_{k}": pd.DataFrame(v, columns=cols) for k, v in wide.items()}
    out["location_match"] = pd.DataFrame(
        match, columns=["country_region_old", "province_state_old",
                        "country_region_new", "province_state_new"])

    us_rows = []
    for s in states:
        pos = np.cumsum(rng.poisson(rng.uniform(5, 80), len(JHU_DATES))).astype(float)
        rec = np.floor(pos / 4)
        dth = np.floor(pos / 20)
        rec_null = rng.random(len(JHU_DATES)) < 0.05
        for i, d in enumerate(JHU_DATES):
            us_rows.append((int(d.strftime("%Y%m%d")), s, pos[i],
                            None if rec_null[i] else rec[i], dth[i]))
        expected[("United States", s)] = int(pos[-1])
    out["daily_covid_usstates"] = pd.DataFrame(
        us_rows, columns=["date", "state", "positive", "recovered", "death"])
    out["county_pop"] = pd.DataFrame(
        [(1000 * i + j, f"County {i}-{j}", s, int(rng.integers(10_000, 2_000_000)))
         for i, s in enumerate(states) for j in range(int(rng.integers(2, 6)))],
        columns=["countyFIPS", "County Name", "State", "population"])
    pops = [(c.replace(" ", "_"), int(rng.integers(100_000, 90_000_000))) for c in countries]
    out["jhu_countries"] = pd.DataFrame(
        [(p[0], p[1]) for p in pops for _ in range(3)],
        columns=["countries_and_territories", "pop_data_2018"])

    # GHCN: one station per location (two for some US states), plus a
    # stale station and a short-history one that the gates must drop
    stations, wx = [], []
    locs = [(code, "") for code in codes] + [("US", s) for s in states]
    doy = WEATHER_DATES.dayofyear.to_numpy()
    dates_s = WEATHER_DATES.strftime("%Y-%m-%d").to_numpy()
    before_gap_end = WEATHER_DATES <= WEATHER_GAP_END
    for k, (code, st) in enumerate(locs):
        for j in range(2 if code == "US" and k % 2 == 0 else 1):
            sid = f"{code}{k:05d}{j:04d}"
            stations.append((sid, f" {st}" if st and j else st))
            base = rng.uniform(-50, 250)
            tavg = np.round(base + 120 * np.sin(2 * np.pi * (doy - 100) / 365.25)
                            + rng.normal(0, 15, len(doy)), 1)
            missing = before_gap_end & (rng.random(len(doy)) < 0.05)
            wx.append(pd.DataFrame({"id": sid, "date": dates_s[~missing],
                                    "element": "TAVG", "value": tavg[~missing]}))
            prcp = rng.random(len(doy)) < 0.5
            wx.append(pd.DataFrame({"id": sid, "date": dates_s[prcp], "element": "PRCP",
                                    "value": np.round(rng.exponential(20, prcp.sum()), 1)}))
    for sid, n_days in (("ZZ000000001", 400), ("ZY000000001", 600)):
        stations.append((sid, ""))
        days = dates_s[:n_days] if sid.startswith("ZZ") else dates_s[-n_days:]
        wx.append(pd.DataFrame({"id": sid, "date": days, "element": "TAVG",
                                "value": np.round(rng.normal(100, 30, n_days), 1)}))
    out["ghcnd_stations"] = pd.DataFrame(stations, columns=["id", "state"])
    out["ghcnd_countries"] = pd.DataFrame(
        [(code, f"{c}  ") for code, c in zip(codes, countries)]
        + [("US", "United States"), ("ZZ", "Staleland"), ("ZY", "Shortland")],
        columns=["code", "name"])
    out["weather"] = pd.concat(wx, ignore_index=True)
    out["expected"] = pd.DataFrame(
        [(c, s, v, last_day) for (c, s), v in expected.items()],
        columns=["country_region", "province_state", "confirmed", "date"])
    return out


def write_covid_inputs(inp: dict[str, pd.DataFrame], work_dir: str) -> None:
    """One CSV per input table under `work_dir/in`, named as the DAG reads them."""
    d = os.path.join(work_dir, "in")
    os.makedirs(d, exist_ok=True)
    for key, df in inp.items():
        if key != "expected":
            df.to_csv(os.path.join(d, f"{key}.csv"), index=False)
