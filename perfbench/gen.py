"""Seeded input generator for every workload of the benchmark.

This is the only source of inputs: the program under test receives nothing
but the files written here.

- Load workloads: `NN--ST--VM2Uniform--DATE.tab` voter files and, next to
  them, `expect.json`, the per-state outcome a correct loader must produce
  (published rows and distinct keys, dropped keys, alerts). The seed decides
  every value; state sizes, duplicate and mover counts are fixed by the
  workload size alone, so two seeds cost the loader the same work.
- `catalog`: the ten parquet tables the `graft.SparkEntry` queries read
  (`region` ... `embeddings`, the shapes of the sf0.001 fixtures), with row
  counts fixed and every value drawn from the seed. Correct answers come from
  the DuckDB oracle at run time, so no expectation file is written.

    python3 perfbench/gen.py --workload load_full_width --seed 1 --out DIR [--scale 0.1]
"""

import argparse
import datetime
import json
import math
import os
import random
import re

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# 50 states + DC, largest first; sizes fall geometrically so that the
# largest state holds ~35x the rows of the smallest.
STATES = [
    "CA", "TX", "FL", "NY", "PA", "IL", "OH", "GA", "NC", "MI", "NJ", "VA",
    "WA", "AZ", "TN", "MA", "IN", "MD", "MO", "WI", "CO", "MN", "SC", "AL",
    "LA", "KY", "OR", "OK", "CT", "UT", "IA", "NV", "AR", "KS", "MS", "NM",
    "NE", "ID", "WV", "HI", "NH", "ME", "MT", "RI", "DE", "SD", "ND", "AK",
    "DC", "VT", "WY",
]
SKEW = 35.0

# Reconciliation tolerance of the loader (rows); a state whose in-file
# duplicates exceed it must raise an alert and keep its old partition.
TOLERANCE = 1000

# Full-width rows per unit scale, narrow base rows, re-delivered states.
FULL_WIDTH_ROWS = 10000
BASE_ROWS = 30000
REDELIVERED = 12
DUP_SHARE = 0.005
MOVER_SHARE = 0.01
NEW_KEY_SHARE = 0.05
ALERT_DUPS = 1100

NARROW = [
    "LALVOTERID", "Voters_FirstName", "Voters_Gender", "Voters_Age",
    "VoterTelephones_CellConfidenceCode", "Residence_Addresses_HouseNumber",
    "Voters_CalculatedRegDate", "Residence_Addresses_Latitude",
    "Residence_Addresses_Longitude", "City", "Parties_Description",
]


def voter_columns(root=ROOT):
    """(name, type) of the voter schema, in schema order, read from the
    program's own `Schemas.voter` so the generated header follows it."""
    with open(os.path.join(root, "src", "main", "scala", "graft", "etl", "Schemas.scala")) as f:
        src = f.read()
    m = re.search(r"val voter: StructType = StructType\(Seq\((.*?)\n\s*\)\)", src, re.S)
    cols = re.findall(r'StructField\("([^"]+)",\s*(\w+)Type', m.group(1)) if m else []
    if not cols:
        raise ValueError("no voter schema found in Schemas.scala")
    return cols


def state_sizes(total):
    """Rows per state: geometric from the largest to the smallest."""
    n = len(STATES)
    weights = [SKEW ** (-i / (n - 1)) for i in range(n)]
    scale = total / sum(weights)
    return {st: max(20, int(round(w * scale))) for st, w in zip(STATES, weights)}


def key(st, k):
    return "LAL%s%08d" % (st, k)


class RowMaker:
    """Builds TSV lines for a header; per-row fields come from the seeded rng,
    the rest from a seeded pool of row bodies so that generation stays cheap
    at full width."""

    def __init__(self, rng, header, types, pool=256):
        self.rng = rng
        self.header = header
        self.idx = {c: i for i, c in enumerate(header)}
        ints = [i for i, t in enumerate(types) if t == "Integer"]
        dates = [i for i, t in enumerate(types) if t == "Date"]
        self.ints, self.dates = ints, dates
        per_row = {"LALVOTERID", "Voters_FirstName", "City",
                   "Residence_Addresses_Latitude", "Residence_Addresses_Longitude"}
        self.bodies = []
        for _ in range(pool):
            row = []
            for i, (c, t) in enumerate(zip(header, types)):
                # about half the columns carry data; typed ones always do
                if c in per_row or c == "Residence_Addresses_GeoHash":
                    row.append("")
                elif t != "String" or i % 2 == 0:
                    row.append("%s%d" % (c[:3].upper(), rng.randrange(1000)))
                else:
                    row.append("")
            self.bodies.append(row)

    def line(self, lal, first):
        r = self.rng
        row = list(self.bodies[r.randrange(len(self.bodies))])
        ix = self.idx
        row[ix["LALVOTERID"]] = lal
        row[ix["Voters_FirstName"]] = first
        city = "CITY%d" % r.randrange(400)
        if r.random() < 0.1:
            city += " (EST.)"
        row[ix["City"]] = city
        row[ix["Residence_Addresses_Latitude"]] = "%.6f" % r.uniform(25.0, 49.0)
        row[ix["Residence_Addresses_Longitude"]] = "%.6f" % r.uniform(-124.0, -67.0)
        for i in self.ints:
            row[i] = "abc" if r.random() < 0.01 else str(r.randrange(100))
        for i in self.dates:
            row[i] = ("02/30/2011" if r.random() < 0.01 else
                      "%02d/%02d/%d" % (r.randrange(1, 13), r.randrange(1, 29),
                                        r.randrange(1940, 2024)))
        for c in ("Voters_Gender", "Voters_Age", "Parties_Description"):
            if c in ix:
                row[ix[c]] = {"Voters_Gender": "MF"[r.randrange(2)],
                              "Voters_Age": str(r.randrange(18, 99)),
                              "Parties_Description": "Party%d" % r.randrange(6)}[c]
        return "\t".join(row)


def write_file(path, header, lines):
    with open(path, "w", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for ln in lines:
            f.write(ln + "\n")
    return os.path.getsize(path)


def file_name(num, st, date):
    return "%02d--%s--VM2Uniform--%s.tab" % (num, st, date)


def state_file(maker, rng, st, keys, dups, movers=()):
    """Lines of one state file: every key once (first-seen wins), `dups`
    later repeats of earlier keys marked DUP, and mover rows whose keys
    belong to another state's published partition."""
    lines = [maker.line(k, "NAME%d" % rng.randrange(10 ** 6)) for k in keys]
    for k in movers:
        lines.insert(rng.randrange(len(lines) + 1),
                     maker.line(k, "MOVER%d" % rng.randrange(10 ** 6)))
    for _ in range(dups):
        # a repeat must come after its original for first-wins to keep it
        pos = rng.randrange(len(lines))
        k = lines[pos].split("\t", 1)[0]
        lines.insert(rng.randrange(pos + 1, len(lines) + 1),
                     maker.line(k, "NAME%dDUP" % rng.randrange(10 ** 6)))
    return lines


def gen_full_width(seed, out, scale=1.0):
    """Cold load: 51 full-width state files into an empty table."""
    rng = random.Random(seed)
    cols = voter_columns()
    header = [c for c, _ in cols]
    maker = RowMaker(rng, header, [t for _, t in cols])
    sizes = state_sizes(int(FULL_WIDTH_ROWS * scale))
    os.makedirs(out, exist_ok=True)
    states, files, rows, nbytes = {}, [], 0, 0
    for num, st in enumerate(STATES, 1):
        n = sizes[st]
        dups = int(round(n * DUP_SHARE))
        start = rng.randrange(10 ** 6)
        lines = state_file(maker, rng, st, [key(st, start + j) for j in range(n)], dups)
        name = file_name(num, st, "2024-01-15")
        nbytes += write_file(os.path.join(out, name), header, lines)
        files.append(name)
        rows += len(lines)
        states[st] = {"rows": n, "keys": n, "in_file_dups": dups, "movers_dropped": 0}
    expect = {
        "workload": "load_full_width", "seed": seed, "columns": len(header),
        "timed_files": files, "delivered_rows": rows, "delivered_bytes": nbytes,
        "states": states, "alerts": [], "rerun_files": [],
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


def gen_incremental(seed, out, scale=1.0):
    """Daily re-run: a narrow base of 51 states (published during set-up)
    plus a new delivery for 12 of them, written into the same input dir.
    The delivery re-sends each state's keys with new values, adds new
    keys, carries movers from states that are not re-delivered (dropped
    against the published table) and, for one state, more in-file
    duplicates than the tolerance (an alert; its old partition stays)."""
    rng = random.Random(seed)
    header = NARROW
    types = dict(voter_columns())
    maker = RowMaker(rng, header, [types[c] for c in header], pool=64)
    sizes = state_sizes(int(BASE_ROWS * scale))
    os.makedirs(out, exist_ok=True)
    base_keys, base_files = {}, []
    for num, st in enumerate(STATES, 1):
        start = rng.randrange(10 ** 6)
        base_keys[st] = [key(st, start + j) for j in range(sizes[st])]
        name = file_name(num, st, "2024-01-15")
        write_file(os.path.join(out, name), header,
                   state_file(maker, rng, st, base_keys[st], 0))
        base_files.append(name)
    # every 4th state by size is re-delivered; the largest of them alerts
    redelivered = STATES[::4][:REDELIVERED]
    alert_state = redelivered[0]
    stay = [s for s in STATES if s not in redelivered]
    states = {st: {"rows": sizes[st], "keys": sizes[st], "in_file_dups": 0,
                   "movers_dropped": 0} for st in STATES}
    files, rows, nbytes, alerts = [], 0, 0, []
    for i, st in enumerate(redelivered):
        n_old = sizes[st]
        n_new = max(1, int(round(n_old * NEW_KEY_SHARE)))
        last = int(base_keys[st][-1][len("LAL") + 2:])
        keys = base_keys[st] + [key(st, last + 1 + j) for j in range(n_new)]
        alerting = st == alert_state
        dups = ALERT_DUPS if alerting else int(round(n_old * DUP_SHARE))
        n_movers = 0 if alerting else max(1, int(round(n_old * MOVER_SHARE)))
        movers = []
        for _ in range(n_movers):
            src = stay[rng.randrange(len(stay))]
            movers.append(base_keys[src][rng.randrange(len(base_keys[src]))])
        movers = sorted(set(movers))
        lines = state_file(maker, rng, st, keys, dups, movers)
        name = file_name(len(STATES) + 1 + i, st, "2024-02-01")
        nbytes += write_file(os.path.join(out, name), header, lines)
        files.append(name)
        rows += len(lines)
        if alerting:
            alerts.append("Error: state %s loaded %d rows, expected %d"
                          % (st, len(keys) + len(movers), len(lines)))
            states[st]["in_file_dups"] = dups
        else:
            states[st] = {"rows": len(keys), "keys": len(keys),
                          "in_file_dups": dups, "movers_dropped": len(movers)}
    expect = {
        "workload": "load_incremental", "seed": seed, "columns": len(header),
        "base_files": base_files, "timed_files": files,
        "delivered_rows": rows, "delivered_bytes": nbytes,
        "states": states, "alerts": alerts, "alert_state": alert_state,
        "rerun_files": [f for f in files if f.split("--")[1] == alert_state],
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


# Catalog tables: rows per table, the sf0.001 fixture sizes.
CATALOG_ROWS = {"region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
                "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
                "embeddings": 500}
WORDS = ("a agg b batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def gen_catalog(seed, out, scale=1.0):
    """The ten tables of the query catalog, as parquet files named
    `<table>.parquet`. Keys, foreign keys and categorical domains follow the
    fixtures; documents carry near-duplicate clusters (copies with one token
    changed or appended), embeddings are random unit vectors in 64 dims."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    n = {t: max(1, int(round(c * scale))) if t not in ("region", "nation") else c
         for t, c in CATALOG_ROWS.items()}
    ts = pa.timestamp("us")
    day = datetime.datetime(1995, 1, 1)
    money = lambda lo, hi: round(rng.uniform(lo, hi), 2)
    tables = {
        "region": {"r_regionkey": (pa.int32(), list(range(5))),
                   "r_name": (pa.string(), ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": (pa.int32(), list(range(25))),
                   "n_name": (pa.string(), ["NATION_%d" % i for i in range(25)]),
                   "n_regionkey": (pa.int32(), [i % 5 for i in range(25)])},
        "customer": {"c_custkey": (pa.int64(), list(range(n["customer"]))),
                     "c_name": (pa.string(), ["Customer#%09d" % i for i in range(n["customer"])]),
                     "c_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(n["customer"])]),
                     "c_acctbal": (pa.float64(), [money(-999, 9999) for _ in range(n["customer"])]),
                     "c_mktsegment": (pa.string(), [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                                "HOUSEHOLD", "MACHINERY"])
                                                    for _ in range(n["customer"])])},
        "supplier": {"s_suppkey": (pa.int64(), list(range(n["supplier"]))),
                     "s_name": (pa.string(), ["Supplier#%09d" % i for i in range(n["supplier"])]),
                     "s_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(n["supplier"])]),
                     "s_acctbal": (pa.float64(), [money(-999, 9999) for _ in range(n["supplier"])])},
        "part": {"p_partkey": (pa.int64(), list(range(n["part"]))),
                 "p_name": (pa.string(), ["%s %s" % (rng.choice(["blue", "cold", "hot", "large", "new",
                                                                 "old", "red", "small"]),
                                                     rng.choice(["anvil", "bolt", "gear", "gizmo", "plate",
                                                                 "ring", "rod", "widget"]))
                                          for _ in range(n["part"])]),
                 "p_brand": (pa.string(), ["Brand#%d" % rng.randrange(1, 26) for _ in range(n["part"])]),
                 "p_type": (pa.string(), [rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                                      "STANDARD"]) for _ in range(n["part"])]),
                 "p_size": (pa.int32(), [rng.randrange(1, 51) for _ in range(n["part"])]),
                 "p_retailprice": (pa.float64(), [round(900 + i / 10.0, 2) for i in range(n["part"])])},
    }
    orders = [(k, rng.randrange(n["customer"]), rng.choice("FOP"), money(1000, 450000),
               day + datetime.timedelta(days=rng.randrange(2404)),
               rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))
              for k in range(n["orders"])]
    tables["orders"] = dict(zip(
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
        [(t, list(c)) for t, c in zip([pa.int64(), pa.int64(), pa.string(), pa.float64(), ts, pa.string()],
                                      zip(*orders))]))
    items = []
    for _ in range(n["lineitem"]):
        o = orders[rng.randrange(len(orders))]
        q = float(rng.randrange(1, 51))
        items.append((o[0], rng.randrange(n["part"]), rng.randrange(n["supplier"]),
                      rng.randrange(1, 8), q, round(q * rng.uniform(900, 2100), 2),
                      rng.randrange(11) / 100.0, rng.randrange(9) / 100.0, rng.choice("ANR"),
                      rng.choice("FO"), o[4] + datetime.timedelta(days=rng.randrange(1, 122))))
    tables["lineitem"] = dict(zip(
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
         "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"],
        [(t, list(c)) for t, c in zip([pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(),
                                       pa.float64(), pa.float64(), pa.float64(), pa.string(),
                                       pa.string(), ts], zip(*items))]))
    t0, span_us = datetime.datetime(2024, 1, 1), 30 * 86400 * 10 ** 6
    stamps = sorted(rng.randrange(span_us) for _ in range(n["events"]))
    tables["events"] = {
        "event_id": (pa.int64(), list(range(n["events"]))),
        "ts": (ts, [t0 + datetime.timedelta(microseconds=u) for u in stamps]),
        "user_id": (pa.int64(), [rng.randrange(15) for _ in range(n["events"])]),
        "event_type": (pa.string(), [rng.choice(["click", "error", "purchase", "signup", "view"])
                                     for _ in range(n["events"])]),
        "value": (pa.float64(), [round(min(max(rng.lognormvariate(3.5, 1.0), 0.01), 999.0), 2)
                                 for _ in range(n["events"])]),
        "props": (pa.string(), ['{"k": %d}' % rng.randrange(100) for _ in range(n["events"])]),
    }
    texts = []
    while len(texts) < n["documents"]:
        base = [rng.choice(WORDS) for _ in range(rng.randrange(10, 100))]
        texts.append(" ".join(base))
        if rng.random() < 0.05:  # a near-duplicate cluster of 2-4 documents
            for _ in range(rng.randrange(1, 4)):
                w = list(base)
                if rng.random() < 0.5:
                    w.append("dup")
                else:
                    w[rng.randrange(len(w))] = rng.choice(WORDS)
                texts.append(" ".join(w))
    order = list(range(len(texts)))
    rng.shuffle(order)
    texts = [texts[i] for i in order[:n["documents"]]]
    tables["documents"] = {
        "doc_id": (pa.int64(), list(range(n["documents"]))),
        "text": (pa.string(), texts),
        "lang": (pa.string(), [rng.choice(["de", "en", "en", "en", "es", "fr", "zh"]) for _ in texts]),
        "source": (pa.string(), ["src%d" % rng.randrange(20) for _ in texts]),
        "n_chars": (pa.int64(), [len(t) for t in texts]),
    }
    vecs = []
    for _ in range(n["embeddings"]):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    tables["embeddings"] = {
        "vec_id": (pa.int64(), list(range(n["embeddings"]))),
        "embedding": (pa.list_(pa.float32()), vecs),
        "label": (pa.int32(), [rng.randrange(10) for _ in vecs]),
    }
    os.makedirs(out, exist_ok=True)
    for name, cols in tables.items():
        schema = pa.schema([(c, t) for c, (t, _) in cols.items()])
        table = pa.table({c: pa.array(v, type=t) for c, (t, v) in cols.items()}, schema=schema)
        pq.write_table(table, os.path.join(out, name + ".parquet"))
    return {"workload": "catalog", "seed": seed,
            "rows": {t: len(next(iter(c.values()))[1]) for t, c in tables.items()}}


GENERATORS = {"load_full_width": gen_full_width, "load_incremental": gen_incremental,
              "catalog": gen_catalog}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    e = GENERATORS[a.workload](a.seed, a.out, a.scale)
    print(json.dumps({k: v for k, v in e.items() if k in ("delivered_rows", "delivered_bytes", "rows")}))


if __name__ == "__main__":
    main()
