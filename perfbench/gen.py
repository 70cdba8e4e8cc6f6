"""Seeded input generator for the graft benchmark.

The program under test only ever sees the files written here.

* `tables(sf)` synthesizes the TPC-H-like star schema plus the
  `events` and `documents` tables in the shapes and value domains the
  graft query keys read (uniform keys, 1995-2001 order
  dates, a 31-word document vocabulary with near-duplicate documents).
  Their content is the same for every seed.
* `write_tables(...)` writes each table as one parquet file with its
  rows permuted by the seed.
* `cdc(...)` writes nation, customer and orders CDC envelope files
  (one JSON envelope per line) for the streaming workload. Dimension
  changes come first; order files follow in event-time order with a
  seeded share of rows arriving one file late, inside the 10-minute
  watermark.
* `python3 gen.py pace <staged> <live> <schedule.json> <log>` is the
  open-loop pacer: a single-threaded process that moves staged order
  files into the watched directory on the seeded schedule, whatever
  the consumer does, and logs each file's due and actual time.
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
WORDS = [w for w in VOCAB if w != "dup"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """One sf-scaled table set (sf=0.1 has 150k orders, 600k lineitems).

    The content is fixed; `write_tables` permutes the rows by the seed.
    Random document text makes the near-duplicate clustering work vary
    from one content to the next, so every seed keeps this one.
    """
    rng = np.random.default_rng(0)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(n_ord, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(ok, lines)
    n_li = len(lk)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US)})
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts, originals = [], []
    for i in range(n_doc):
        if originals and rng.random() < 0.1:
            # near duplicate of an original document, two words changed;
            # copying only originals keeps every cluster a star, so the
            # number of clustering rounds does not depend on the seed
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            originals.append(i)
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                               int(rng.integers(8, 100)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts, "lang": langs,
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return t


def write_tables(tbls, out_dir, seed):
    """Writes each table as one parquet file, rows permuted by the seed."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tbls.items():
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 20)


# --- CDC envelopes -------------------------------------------------------

MINUTE_MS = 60_000
CDC_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _wire(ms):
    """Epoch ms -> the reference's compact sv_op_timestamp digits."""
    t = np.datetime64(int(ms), "ms").astype(object)
    return t.strftime("%Y%m%d%H%M%S") + f"{int(ms) % 1000:03d}"


def _envelope(manip, trans_id, seq, ms, image):
    return json.dumps({"sv_manip_type": manip, "sv_trans_id": trans_id,
                       "sv_trans_row_seq": seq, "sv_op_timestamp": _wire(ms),
                       "after_image": image}, separators=(",", ":"))


def cdc(seed, out_dir, n_cust, backlog_chunks, chunk_files, backlog_rows_per_file,
        paced_files, paced_rows_per_file, paced_files_per_s, minutes_per_file,
        disorder_share=0.2):
    """Writes nation/, customer/, backlog/chunk-*/, paced/ and flush/ envelope files.

    Dimension changes all precede every order's event time: each nation
    once; each customer inserted, every 4th updated to the UPDATED
    segment, every 10th deleted. The order files form one event-time
    sequence, backlog chunks first and paced files after them; each file
    spans `minutes_per_file` (at most 10) of event time. A
    `disorder_share` of rows arrives one file late; as no file spans
    more than the 10-minute watermark, none of them is ever dropped.
    The one `flush/` order lies a week past every other event, so the
    watermark passes and every real window closes. `paced.json` holds
    the pacer's schedule in seconds from its start.
    """
    rng = np.random.default_rng(seed)
    for d in ("nation", "customer", "paced", "flush"):
        os.makedirs(os.path.join(out_dir, d), exist_ok=True)
    with open(os.path.join(out_dir, "nation", "part-00000.json"), "w") as f:
        for k in range(25):
            f.write(_envelope("I", k, 1, CDC_T0_MS, {"n_nationkey": k, "n_name": f"NATION_{k}"}) + "\n")
    nations = rng.integers(0, 25, n_cust)
    segs = np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]
    with open(os.path.join(out_dir, "customer", "part-00000.json"), "w") as f:
        for k in range(n_cust):
            base = CDC_T0_MS + MINUTE_MS + k
            img = {"c_custkey": k, "c_nationkey": int(nations[k]), "c_mktsegment": str(segs[k])}
            f.write(_envelope("I", k * 10 + 1, 1, base, img) + "\n")
            if k % 4 == 0:
                f.write(_envelope("U", k * 10 + 2, 2, base + 5 * MINUTE_MS,
                                  dict(img, c_mktsegment="UPDATED")) + "\n")
            if k % 10 == 0:
                f.write(_envelope("D", k * 10 + 3, 3, base + 10 * MINUTE_MS, img) + "\n")
    paths = []
    for c in range(backlog_chunks):
        d = os.path.join(out_dir, "backlog", f"chunk-{c}")
        os.makedirs(d)
        paths += [(os.path.join(d, f"part-{c * chunk_files + i:05d}.json"), backlog_rows_per_file)
                  for i in range(chunk_files)]
    first = len(paths)
    paths += [(os.path.join(out_dir, "paced", f"part-{first + i:05d}.json"), paced_rows_per_file)
              for i in range(paced_files)]
    rows = np.array([r for _, r in paths])
    file_of = np.repeat(np.arange(len(paths)), rows)
    n = len(file_of)
    t_orders = CDC_T0_MS + DAY_US // 1000
    # file ranges are disjoint, so sorting keeps every row in its file
    ev = np.sort(t_orders + file_of * minutes_per_file * MINUTE_MS +
                 rng.integers(0, minutes_per_file * MINUTE_MS, n))
    # late rows never cross from the backlog into the paced files
    late = (rng.random(n) < disorder_share) & (file_of < len(paths) - 1) & (file_of != first - 1)
    arrive = np.where(late, file_of + 1, file_of)
    cust = rng.integers(0, n_cust, n)
    price = _money(rng, 1000.0, 500000.0, n)
    order = np.argsort(arrive, kind="stable")
    bounds = np.searchsorted(arrive[order], np.arange(len(paths) + 1))
    for i, (path, _) in enumerate(paths):
        with open(path, "w") as f:
            for j in order[bounds[i]:bounds[i + 1]]:
                f.write(_envelope("I", int(j), 1, int(ev[j]),
                                  {"o_orderkey": int(j), "o_custkey": int(cust[j]),
                                   "o_totalprice": float(price[j])}) + "\n")
    with open(os.path.join(out_dir, "flush", "part-99999.json"), "w") as f:
        f.write(_envelope("I", n, 1, int(ev.max()) + 7 * DAY_US // 1000,
                          {"o_orderkey": n, "o_custkey": 1, "o_totalprice": 1.0}) + "\n")
    # a fixed rate with seeded jitter, so arrivals do not lock into step
    # with the micro-batches while bursts stay bounded
    due = (np.arange(paced_files) + rng.uniform(-0.4, 0.4, paced_files)) / paced_files_per_s
    with open(os.path.join(out_dir, "paced.json"), "w") as f:
        json.dump({os.path.basename(p): float(t) for (p, _), t in zip(paths[first:], due)}, f)


def pace(staged, live, schedule, log_path):
    """Open loop: each file is moved in when due, whatever the consumer does."""
    with open(schedule) as f:
        due_s = json.load(f)
    log = []
    start = time.time() + 0.5
    for name in sorted(os.listdir(staged)):
        due = start + due_s[name]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staged, name), os.path.join(live, name))
        log.append({"file": name, "due_ms": due * 1000.0, "written_ms": time.time() * 1000.0})
    late_ms = max(e["written_ms"] - e["due_ms"] for e in log) if log else 0.0
    with open(log_path + ".tmp", "w") as f:
        json.dump({"files": log, "late_ms_max": late_ms}, f)
    os.rename(log_path + ".tmp", log_path)


if __name__ == "__main__":
    if len(sys.argv) == 6 and sys.argv[1] == "pace":
        pace(*sys.argv[2:])
    else:
        sys.exit("usage: gen.py pace <staged> <live> <schedule.json> <log>")
