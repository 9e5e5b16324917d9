"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical files, a different seed writes different ones.

- ``write_tables``: the star schema (region .. lineitem), ``events``,
  ``documents`` and ``embeddings`` as single-row-group parquet files, with
  the column types and value distributions of the repo's sf0.1 test lake.
- ``cta_feed``: the mock Train Tracker's response bodies, one per
  (poll cycle, line), plus the rows a correct ingest lands from them.
- ``write_raw_day``: one raw NDJSON day of landed records (the input of
  the daily compaction), with injected at-least-once duplicates.
- ``trend``: the expected output of the benchmark's trend query.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf 0.1 (the repo's bench scale)
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000, "users": 1500}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _n(table, sf):
    return max(1, int(round(BASE_ROWS[table] * sf / 0.1)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays + 1, n).astype("timedelta64[D]")


def _write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows),
                   compression="snappy")


def write_tables(seed, out_dir, sf=0.1):
    """Write the ten lake tables for ``seed`` at scale ``sf`` into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    nc = _n("customer", sf)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc).tolist()})

    r = _rng(seed, 2)
    ns = _n("supplier", sf)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})

    r = _rng(seed, 3)
    npart = _n("part", sf)
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    keys = np.arange(npart)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(r.choice(adj, npart), " "),
                              r.choice(noun, npart)).tolist(),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], npart).tolist(),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    r = _rng(seed, 4)
    no = _n("orders", sf)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2404, no), ts),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no).tolist()})

    r = _rng(seed, 5)
    nl = _n("lineitem", sf)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": _money(r, 0.0, 0.1, nl),
        "l_tax": _money(r, 0.0, 0.08, nl),
        "l_returnflag": r.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": r.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2498, nl), ts)})

    r = _rng(seed, 6)
    ne = _n("events", sf)
    month_us = 30 * 86400 * 10**6
    offs = np.sort(r.integers(0, month_us, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(r.integers(0, _n("users", sf), ne), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup",
                                "view"], ne).tolist(),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})

    r = _rng(seed, 7)
    nd = _n("documents", sf)
    lengths = r.integers(10, 70, nd)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # ~5% planted near-duplicates: an earlier doc's text plus one token
    for i in np.flatnonzero(r.random(nd) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": r.choice(["en", "zh", "de", "fr", "es"], nd,
                         p=[0.41, 0.15, 0.14, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, 8)
    nv = _n("embeddings", sf)
    v = r.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})


# --- CTA Train Tracker feed -------------------------------------------------

LINES = [("Red", "red"), ("Blue", "blue"), ("Brn", "brn"), ("G", "g"),
         ("Org", "org"), ("P", "p"), ("Y", "y")]
STATIONS = ["Howard", "Belmont", "Clark/Lake", "Monroe", "Roosevelt",
            "Forest Park", "O'Hare", "Kimball", "Midway", "Harlem",
            "Linden", "Skokie", "95th/Dan Ryan", "Loop", "Ashland"]
DAY = dt.datetime(2025, 7, 1)
POLL_TS = "2025-07-01T08:00:00"


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def fleet(seed, n_trains=150):
    """(line, run, direction, destination) per train; lines get uneven shares."""
    r = _rng(seed, 20)
    share = r.dirichlet(np.full(len(LINES), 2.0))
    counts = np.maximum(1, np.floor(share * n_trains).astype(int))
    counts[int(np.argmax(counts))] += n_trains - counts.sum()
    trains = []
    for (line, _), k in zip(LINES, counts):
        runs = r.choice(np.arange(100, 1000), int(k), replace=False)
        for rn in sorted(runs.tolist()):
            trains.append((line, str(rn), str(r.choice(["1", "5"])),
                           str(r.choice(STATIONS))))
    return trains


def _obs(r, trains, t0, cycles, delay_rate):
    """States of ``trains`` at each of ``cycles`` one-minute polls from t0.

    Returns a dict of per-observation columns in (cycle, train) order.
    """
    n = len(trains) * cycles
    base = np.datetime64(t0, "s")
    t = base + np.repeat(np.arange(cycles) * 60, len(trains)).astype("timedelta64[s]")
    prdt = t - r.integers(0, 30, n).astype("timedelta64[s]")
    arrt = prdt + r.integers(30, 300, n).astype("timedelta64[s]")
    iso = lambda a: np.datetime_as_string(a, unit="s").tolist()
    tr = np.tile(np.arange(len(trains)), cycles)
    return {"train": tr.tolist(), "t": iso(t), "prdt": iso(prdt),
            "arrT": iso(arrt),
            "next": np.array(STATIONS)[r.integers(0, len(STATIONS), n)].tolist(),
            "isApp": (r.random(n) < 0.3).astype(int).astype(str).tolist(),
            "isDly": (r.random(n) < delay_rate).astype(int).astype(str).tolist(),
            "lat": [f"{x:.4f}" for x in 41.7 + r.random(n) * 0.4],
            "lon": [f"{x:.4f}" for x in -87.9 + r.random(n) * 0.3],
            "heading": r.integers(0, 360, n).astype(str).tolist()}


def cta_feed(seed, cycles, n_trains=150):
    """Mock API bodies for ``cycles`` poll cycles of the 7 lines.

    Returns (bodies, rows): bodies[line] is the list of response bodies the
    mock serves for that line, one per cycle; rows is every record a correct
    normalize lands, as (train_id, line, prdt, is_delayed, next_station).
    A seed-drawn share of responses carries an empty ``train`` array or no
    ``route`` at all; both must land nothing.
    """
    r = _rng(seed, 21)
    trains = fleet(seed, n_trains)
    delay_rate = float(r.uniform(0.03, 0.15))
    empty_rate = float(r.uniform(0.01, 0.05))
    noroute_rate = float(r.uniform(0.01, 0.05))
    o = _obs(r, trains, DAY + dt.timedelta(hours=8), cycles, delay_rate)
    kind = r.random((cycles, len(LINES)))
    date = POLL_TS[:10]
    bodies = {line: [] for line, _ in LINES}
    rows = []
    for c in range(cycles):
        per_line = {line: [] for line, _ in LINES}
        for i in range(c * len(trains), (c + 1) * len(trains)):
            line, rn, trdr, dest = trains[o["train"][i]]
            per_line[line].append((i, rn, trdr, dest))
        for li, (line, rname) in enumerate(LINES):
            head = {"tmst": o["t"][c * len(trains)], "errCd": "0", "errNm": None}
            u = kind[c, li]
            if u < noroute_rate:
                bodies[line].append(json.dumps({"ctatt": head}))
                continue
            obs = []
            if u >= noroute_rate + empty_rate:
                for i, rn, trdr, dest in per_line[line]:
                    obs.append({"rn": rn, "destSt": "30000", "destNm": dest,
                                "trDr": trdr, "nextStaId": "40000",
                                "nextStpId": "30001", "nextStaNm": o["next"][i],
                                "prdt": o["prdt"][i], "arrT": o["arrT"][i],
                                "isApp": o["isApp"][i], "isDly": o["isDly"][i],
                                "flags": None, "lat": o["lat"][i],
                                "lon": o["lon"][i], "heading": o["heading"][i]})
                    rows.append((f"{date}#{line}#{rn}#{trdr}", line,
                                 o["prdt"][i], o["isDly"][i] == "1",
                                 o["next"][i]))
            head["route"] = [{"@name": rname, "train": obs}]
            bodies[line].append(json.dumps({"ctatt": head}))
    return bodies, rows


def write_raw_day(seed, path, n_trains=150, cycles=1440, files=24,
                  dup_rate=0.02):
    """One day of landed raw records (NDJSON, ``files`` hourly objects).

    Returns (rows, n_distinct, n_dups): rows as in ``cta_feed`` for the
    distinct records, and how many duplicate lines were injected.
    """
    r = _rng(seed, 22)
    trains = fleet(seed, n_trains)
    delay_rate = float(r.uniform(0.03, 0.15))
    o = _obs(r, trains, DAY + dt.timedelta(seconds=5), cycles, delay_rate)
    os.makedirs(path, exist_ok=True)
    rows, lines_out = [], []
    for i, ti in enumerate(o["train"]):
        line, rn, trdr, dest = trains[ti]
        tid = f"{o['t'][i][:10]}#{line}#{rn}#{trdr}"
        rows.append((tid, line, o["prdt"][i], o["isDly"][i] == "1", o["next"][i]))
        lines_out.append(
            f'{{"train_id":"{tid}","current_timestamp":"{o["t"][i]}",'
            f'"prediction_generated_timestamp":"{o["prdt"][i]}",'
            f'"destination_station":{json.dumps(dest)},'
            f'"next_station":{json.dumps(o["next"][i])},'
            f'"next_station_arrival_time":"{o["arrT"][i]}",'
            f'"is_approaching_station":"{o["isApp"][i]}",'
            f'"is_train_delayed":"{o["isDly"][i]}","lat":"{o["lat"][i]}",'
            f'"lon":"{o["lon"][i]}","heading":"{o["heading"][i]}"}}')
    n_distinct = len(lines_out)
    # at-least-once re-drive: a copy of a record lands again in the same
    # hourly object or the next one
    dup_idx = np.flatnonzero(r.random(n_distinct) < dup_rate)
    per_file = -(-n_distinct // files)
    extra = {f: [] for f in range(files)}
    for i in dup_idx:
        f = min(files - 1, int(i) // per_file + int(r.integers(0, 2)))
        extra[f].append(lines_out[i])
    for f in range(files):
        chunk = lines_out[f * per_file:(f + 1) * per_file] + extra[f]
        with open(os.path.join(path, f"part-{f:02d}.json"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
    return rows, n_distinct, len(dup_idx)


def trend(rows):
    """Expected trend output for landed rows.

    Returns (by_line_hour, latest): by_line_hour maps "line|hour" to
    [rows, delayed]; latest maps train_id to [prdt, delayed, next_station]
    of the train's most recent prediction.
    """
    by, latest = {}, {}
    for tid, line, prdt, delayed, nxt in rows:
        k = f"{line}|{int(prdt[11:13])}"
        c = by.setdefault(k, [0, 0])
        c[0] += 1
        c[1] += int(delayed)
        cur = latest.get(tid)
        if cur is None or prdt > cur[0]:
            latest[tid] = [prdt, bool(delayed), nxt]
    return by, latest
