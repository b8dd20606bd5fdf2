"""Seeded input generator for the benchmark workloads.

Every generator takes the run's seed, a size preset, the number of ops the
run may need and how many of them are untimed warm-ups, writes its inputs under the given directory, and returns the
facts the output checks need (expected metric totals, injected counts).
The program only ever sees the files written here.

Directory names carry workload, seed and size, because several program
caches and scratch areas are keyed by the last path component of a data
directory.
"""

import datetime as dt
import hashlib
import os
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Size presets. "default" is what the timed runs use; "tiny" exists for the
# self-test, which only has to show that every metric is emitted.
SIZES = {
    "etl_daily": {
        "default": dict(customers=1500, suppliers=100, orders=60000,
                        rows_per_drop=6000, files_per_drop=(2, 5),
                        backfill_every=3, backfill_months=(3, 6),
                        ledger_history=1000,
                        events_per_drop=2000, event_users=3000),
        "tiny": dict(customers=100, suppliers=20, orders=3000,
                     rows_per_drop=300, files_per_drop=(1, 3),
                     backfill_every=3, backfill_months=(2, 3),
                     ledger_history=50,
                     events_per_drop=200, event_users=100),
    },
    "analyst_mix": {
        "default": dict(customers=1500, suppliers=100, parts=2000, orders=15000,
                        lines_per_order=4, events=20000, users=1000,
                        documents=300, doc_words=(40, 120)),
        "tiny": dict(customers=150, suppliers=10, parts=200, orders=1500,
                     lines_per_order=4, events=2000, users=100,
                     documents=40, doc_words=(10, 30)),
    },
}

# event time of the stream drains: each drop's events file covers the next
# slice, and a late event falls at most EVENT_LATE_MS before its slice, well
# inside the drains' two-hour watermark
EVENT_START_MS = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1000
EVENT_SLICE_MS = 6 * 3600 * 1000
EVENT_LATE_MS = 3600 * 1000
EVENT_LATE_SHARE = 0.05
HISTORY_START = dt.date(1995, 1, 1)
HISTORY_DAYS = 2404  # through 2001-07-31: 80 months
EPOCH = dt.datetime(1970, 1, 1)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def rng_for(seed, workload, part=""):
    """Independent stream per (seed, workload, part) so adding a table to one
    workload never shifts another's inputs."""
    h = hashlib.sha256(f"{seed}:{workload}:{part}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _micros(days_col):
    """Day offsets from HISTORY_START as TIMESTAMP (no time zone) values."""
    base = (dt.datetime.combine(HISTORY_START, dt.time()) - EPOCH).days * 86400
    return pa.array((base + days_col.astype(np.int64) * 86400) * 1_000_000,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    """Prices with two decimals, as exact cents."""
    return rng.integers(int(lo * 100), int(hi * 100), n)


# ------------------------------------------------------------------ star schema

def write_dims(d, rng, customers, suppliers, parts=0):
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": [f"REGION_{i}" for i in range(5)]}),
           f"{d}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{d}/nation.parquet")
    cust = pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, customers) / 100.0,
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customers)],
    })
    _write(cust, f"{d}/customer.parquet")
    supp = pa.table({
        "s_suppkey": pa.array(range(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        # every store (nation) gets salespeople
        "s_nationkey": pa.array(np.arange(suppliers) % 25, pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, suppliers) / 100.0,
    })
    _write(supp, f"{d}/supplier.parquet")
    if parts:
        adj = ["small", "large", "cold", "hot", "shiny", "matte"]
        _write(pa.table({
            "p_partkey": pa.array(range(parts), pa.int64()),
            "p_name": [f"{adj[i % 6]} widget" for i in range(parts)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
            "p_type": [["ECONOMY", "STANDARD", "PROMO"][i] for i in rng.integers(0, 3, parts)],
            "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
            "p_retailprice": _money(rng, 900, 2000, parts) / 100.0,
        }), f"{d}/part.parquet")
    return cust, supp


def write_orders(d, rng, n, customers):
    days = np.sort(rng.integers(0, HISTORY_DAYS, n))
    cust = rng.integers(0, customers, n)
    _write(pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 400000, n) / 100.0,
        "o_orderdate": _micros(days),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                            for i in rng.integers(0, 5, n)],
    }), f"{d}/orders.parquet")
    return days, cust


def line_columns(rng, orderkeys, suppliers, order_days):
    """Lineitem rows for the given orders; prices and discounts carry two
    decimals, so revenue has at most four and sums are exact in DECIMAL(22,4)."""
    n = len(orderkeys)
    return {
        "l_orderkey": orderkeys,
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, suppliers, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "price_cents": _money(rng, 900, 105000, n),
        "disc_cents": rng.integers(0, 11, n),
        "tax_cents": rng.integers(0, 9, n),
        "l_returnflag": rng.integers(0, 3, n),
        "l_linestatus": rng.integers(0, 2, n),
        "ship_days": order_days + rng.integers(1, 120, n),
    }


# --------------------------------------------------------------------- etl_daily

def _revenue(price_cents, disc_cents):
    """The program's revenue (extendedprice * (1 - discount)) as the exact
    four-decimal value its DECIMAL(22,4) sum sees."""
    ext = price_cents / 100.0
    r = ext * (1.0 - disc_cents / 100.0)
    return Decimal(repr(float(r))).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)


def _csv_rows(cols, idx):
    flags = "ANR"
    stat = "FO"
    base = dt.datetime.combine(HISTORY_START, dt.time())
    out = []
    for i in idx:
        ship = base + dt.timedelta(days=int(cols["ship_days"][i]))
        out.append(
            f"{cols['l_orderkey'][i]},{cols['l_partkey'][i]},{cols['l_suppkey'][i]},"
            f"{cols['l_linenumber'][i]},{cols['l_quantity'][i]:.1f},"
            f"{cols['price_cents'][i] / 100:.2f},{cols['disc_cents'][i] / 100:.2f},"
            f"{cols['tax_cents'][i] / 100:.2f},{flags[cols['l_returnflag'][i]]},"
            f"{stat[cols['l_linestatus'][i]]},{ship:%Y-%m-%d %H:%M:%S}.000000")
    return out


LINE_HEADER = ("l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,"
               "l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate")


def gen_etl(root, seed, size, n_ops, warmups):
    p = SIZES["etl_daily"][size]
    rng = rng_for(seed, "etl_daily")
    sf = f"{root}/etl_daily-s{seed}-{size}"
    write_dims(sf, rng, p["customers"], p["suppliers"])
    odays, ocust = write_orders(sf, rng, p["orders"], p["customers"])
    base = dt.datetime.combine(HISTORY_START, dt.time())
    ev_rng = rng_for(seed, "etl_daily", "events")
    drops = []
    completed = []  # file names delivered valid in earlier drops (replay pool)
    for k in range(n_ops):
        ddir = f"{root}/drops/d{k:04d}"
        os.makedirs(ddir)
        # one drop in N is a multi-month backfill: the second timed drop and
        # every Nth after it, never a warm-up drop. It carries a day's volume
        # of rows spread over months, so the partitioned mart fans out wider
        # while every op does a like amount of row work
        backfill = k > warmups and (k - warmups) % p["backfill_every"] == 1
        span = (int(rng.integers(*p["backfill_months"], endpoint=True)) * 30
                if backfill else int(rng.integers(1, 3)))
        start = int(rng.integers(0, HISTORY_DAYS - span))
        lo, hi = np.searchsorted(odays, [start, start + span])
        if hi <= lo:
            hi = min(lo + 1, len(odays))
        rows = max(50, int(rng.normal(p["rows_per_drop"], p["rows_per_drop"] * 0.05)))
        okeys = rng.integers(lo, hi, rows)
        cols = line_columns(rng, okeys, p["suppliers"] + 2, odays[okeys])  # +2: orphan suppliers
        nfiles = int(rng.integers(*p["files_per_drop"], endpoint=True))
        split = np.array_split(np.arange(rows), nfiles)
        valid_names = []
        for j, idx in enumerate(split):
            name = f"sales_s{seed}_d{k:04d}_f{j}.csv"
            with open(f"{ddir}/{name}", "w") as f:
                f.write(LINE_HEADER + "\n" + "\n".join(_csv_rows(cols, idx)) + "\n")
            valid_names.append(name)
        # expected customer-monthly totals over this drop's valid rows; rows of
        # the two orphan suppliers drop out of the inner join
        exp = defaultdict(Decimal)
        for i in range(rows):
            if cols["l_suppkey"][i] >= p["suppliers"]:
                continue
            c = int(ocust[okeys[i]])
            month = (base + dt.timedelta(days=int(odays[okeys[i]]))).strftime("%Y-%m")
            exp[(c, month)] += _revenue(int(cols["price_cents"][i]), int(cols["disc_cents"][i]))
        # injected quarantine cases; a replay re-delivers a file an earlier
        # drop completed
        inj = {"wrong_type": 0, "bad_schema": 0, "empty": 0, "replayed": 0}
        if rng.random() < 0.5:
            with open(f"{ddir}/notes_s{seed}_d{k:04d}.txt", "w") as f:
                f.write("delivery note, not a sales file\n")
            inj["wrong_type"] += 1
        if rng.random() < 0.3:
            with open(f"{ddir}/sales_s{seed}_d{k:04d}_badhdr.csv", "w") as f:
                f.write(LINE_HEADER.replace("l_extendedprice", "price") + "\n1,2,3,4,5,6,7,8,N,O,x\n")
            inj["bad_schema"] += 1
        if rng.random() < 0.3:
            with open(f"{ddir}/sales_s{seed}_d{k:04d}_empty.csv", "w") as f:
                f.write(LINE_HEADER + "\n")
            inj["empty"] += 1
        if completed and rng.random() < 0.4:
            old_dir, old_name = completed[int(rng.integers(0, len(completed)))]
            with open(f"{old_dir}/{old_name}", "rb") as src, open(f"{ddir}/{old_name}", "wb") as dst:
                dst.write(src.read())
            inj["replayed"] += 1
        # keep an untouched copy of each valid file for later replays (the
        # pipeline moves the originals into its archive)
        keep = f"{root}/replay_pool/d{k:04d}"
        os.makedirs(keep)
        for name in valid_names:
            os.link(f"{ddir}/{name}", f"{keep}/{name}")
            completed.append((keep, name))
        events = write_event_drop(f"{root}/events_pending/e{k:04d}.parquet", ev_rng, k,
                                  p["events_per_drop"], p["event_users"],
                                  first_id=k * p["events_per_drop"])
        drops.append(dict(dir=ddir, rows=rows, injected=inj, backfill=backfill,
                          expected={f"{c}|{m}": v for (c, m), v in exp.items()},
                          input_bytes=sum(os.path.getsize(f"{ddir}/{n}") for n in valid_names),
                          events=events))
    os.makedirs(f"{root}/stream_src")
    hist = rng.integers(int(p["ledger_history"] * 0.8), int(p["ledger_history"] * 1.2) + 1)
    return dict(sf_dir=sf, drops=drops, ledger_history=int(hist),
                stream_src=f"{root}/stream_src",
                event_files=[f"{root}/events_pending/e{k:04d}.parquet" for k in range(n_ops)])


def write_event_drop(path, rng, k, n, users, first_id):
    """Drop k's events file: the k-th slice of event time, rows out of order,
    a share of them late (before the slice). Returns what the drain checks
    need of it: per (hour start in epoch seconds, type) the event count and
    exact value total, the largest timestamp, and each user's latest
    (ts, event_id)."""
    lo = k * EVENT_SLICE_MS
    ts = rng.integers(lo, lo + EVENT_SLICE_MS, n)
    if k > 0:
        late = rng.random(n) < EVENT_LATE_SHARE
        ts[late] = lo - rng.integers(1, EVENT_LATE_MS, int(late.sum()))
    # no timestamp on an hour boundary, so the watermark never sits on a
    # window end
    ts[ts % 3_600_000 == 0] += 1
    ts += EVENT_START_MS
    user = rng.integers(0, users, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    cents = _money(rng, 1, 500, n)
    eid = np.arange(first_id, first_id + n)
    _write(pa.table({
        "event_id": pa.array(eid, pa.int64()),
        "ts": pa.array(ts * 1000, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in etype],
        "value": cents / 100.0,
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
    }), path)
    rollup = defaultdict(lambda: [0, 0])
    latest = {}
    for t, u, e, c, i in zip(ts.tolist(), user.tolist(), etype.tolist(), cents.tolist(), eid.tolist()):
        r = rollup[(t // 3_600_000 * 3600, EVENT_TYPES[e])]
        r[0] += 1
        r[1] += c
        if u not in latest or (t, i) > latest[u]:
            latest[u] = (t, i)
    return dict(rollup=dict(rollup), max_ts_ms=int(ts.max()), latest=latest)


# ------------------------------------------------------------------- analyst_mix

def gen_analyst(root, seed, size, n_ops, warmups):
    p = SIZES["analyst_mix"][size]
    rng = rng_for(seed, "analyst_mix")
    sf = f"{root}/analyst_mix-s{seed}-{size}"
    write_dims(sf, rng, p["customers"], p["suppliers"], p["parts"])
    odays, ocust = write_orders(sf, rng, p["orders"], p["customers"])
    n = p["orders"] * p["lines_per_order"]
    okeys = np.sort(rng.integers(0, p["orders"], n))
    cols = line_columns(rng, okeys, p["suppliers"], odays[okeys])
    _write(pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        "l_quantity": cols["l_quantity"],
        "l_extendedprice": cols["price_cents"] / 100.0,
        "l_discount": cols["disc_cents"] / 100.0,
        "l_tax": cols["tax_cents"] / 100.0,
        "l_returnflag": [("ANR")[i] for i in cols["l_returnflag"]],
        "l_linestatus": [("FO")[i] for i in cols["l_linestatus"]],
        "l_shipdate": _micros(cols["ship_days"]),
    }), f"{sf}/lineitem.parquet")
    write_events_table(f"{sf}/events.parquet", rng, p["events"], p["users"])
    write_documents(f"{sf}/documents.parquet", rng_for(seed, "analyst_mix", "documents"),
                    p["documents"], p["doc_words"])
    # exact expectations for the two business questions
    base = dt.datetime.combine(HISTORY_START, dt.time())
    cm = defaultdict(Decimal)
    sp = defaultdict(Decimal)
    for i in range(n):
        o = int(okeys[i])
        month = (base + dt.timedelta(days=int(odays[o]))).strftime("%Y-%m")
        rev = _revenue(int(cols["price_cents"][i]), int(cols["disc_cents"][i]))
        cm[(int(ocust[o]), month)] += rev
        s = int(cols["l_suppkey"][i])
        sp[(s % 25, s, month)] += rev
    best = defaultdict(Decimal)
    for (store, s, month), v in sp.items():
        best[(store, month)] = max(best[(store, month)], v)
    incentive = {}
    for (store, s, month), v in sp.items():
        inc = (v * Decimal("0.01")).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) \
            if v == best[(store, month)] else Decimal(0)
        incentive[f"{store}|{s}|{month}"] = [str(v), str(inc)]
    return dict(sf_dir=sf,
                customer_monthly={f"{c}|{m}": str(v) for (c, m), v in cm.items()},
                sales_incentive=incentive)


def write_events_table(path, rng, n, users):
    start = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + start
    _write(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": _money(rng, 1, 500, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), path)


def write_documents(path, rng, n, words):
    """Short text documents over a small made-up vocabulary."""
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu"]
    vocab = ["".join(syl[j] for j in rng.integers(0, len(syl), int(rng.integers(1, 4))))
             for _ in range(600)]
    texts = [" ".join(vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(*words))))
             for _ in range(n)]
    _write(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [["en", "de", "fr"][i] for i in rng.integers(0, 3, n)],
        "source": [["web", "books", "code"][i] for i in rng.integers(0, 3, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


GENERATORS = {"etl_daily": gen_etl, "analyst_mix": gen_analyst}
