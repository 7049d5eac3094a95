"""Seeded input generators for the three benchmark workloads.

Every generator takes a seed and an output directory, writes the inputs the
engine will read, and returns a manifest: the input sizes and the ground
truth the output checks compare against. The truth is computed here, in
Python, never by the engine under test. Bulk columns are drawn with numpy
(seeded PCG64), everything else with `random.Random`; both are the same for
the same seed.

The TPC-H-shaped tables (elt_daily's base orders and customers, the
sql_reports schema) have TPC-H sf0.1 cardinalities: 150 000 orders, 15 000
customers, 1 to 7 line items per order (~600 000), 20 000 parts and 1 000
suppliers.

Workloads:
  elt_daily      base orders/customers plus one delta per day: orders as a
                 multi-file CSV (updates and inserts), customer changes as
                 nested NDJSON (changed, unchanged and new customers).
  sql_reports    a TPC-H-like star schema at sf0.1 cardinalities (parquet)
                 and a stream of (template, params) report requests over
                 the templates in reports.json, a stated share of which
                 repeat an earlier exact pair.
  curate_corpus  two corpus dumps (NDJSON) with planted exact copies,
                 planted near-duplicates far above the 0.7 Jaccard
                 threshold, and planted low-quality documents.
"""
import datetime
import hashlib
import json
import math
import os
import random
import shutil

import numpy as np

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "be", "da", "fu",
             "go", "hi", "ja", "ke", "li", "mo", "nu", "pa", "qui", "ra", "so",
             "te", "ul", "va", "wi", "xo", "ye", "zu", "bra", "cle", "dro",
             "fri", "glo", "pla", "stri", "tho", "wre"]


def make_vocab(rng, n):
    """`n` distinct lowercase pseudo-words of 4 to 9 letters."""
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        if 4 <= len(w) <= 9:
            words.add(w)
    return sorted(words)


def row_hash(fields):
    """60-bit hash of a canonical row string. The engine-side digest is
    `conv(substr(md5(concat_ws('|', ...)), 1, 15), 16, 10)`, summed."""
    s = "|".join(fields)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def day_str(base, i):
    return (base + datetime.timedelta(days=i)).isoformat()


# ---------------------------------------------------------------------------
# elt_daily
# ---------------------------------------------------------------------------

# Base tables at sf0.1; the daily deltas keep the shares of an earlier,
# smaller configuration (7.5 % of the base orders, 10 % of the customers).
ELT = {
    "base_orders": 150000,
    "base_customers": 15000,
    "delta_rows": 11250,         # order rows per day
    "delta_update_share": 0.6,   # of which updates to existing orders
    "delta_files": 3,            # CSV files per day
    "cust_changes": 1500,        # customer rows per day
    "cust_changed_share": 0.5,   # attributes differ from the current version
    "cust_same_share": 0.25,     # attributes identical (SCD2 leaves them)
}
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalcents",
              "o_orderdate", "o_orderpriority", "o_clerk", "o_shippriority",
              "o_comment"]
CUST_COLS = ["c_custkey", "c_name", "profile_segment", "profile_nation",
             "contact_phone"]


def _order(rng, key, ncust, words, base_date):
    return [str(key), str(rng.randint(1, ncust)), rng.choice(STATUSES),
            str(rng.randint(100, 50_000_000)),
            day_str(base_date, rng.randint(0, 2400)),
            rng.choice(PRIORITIES), "Clerk#%05d" % rng.randint(1, 500),
            str(rng.randint(0, 1)),
            " ".join(rng.choice(words) for _ in range(rng.randint(3, 8)))]


def _base_orders(g, n, ncust, words, base_date):
    """The base fact table as {key: row}, drawn column-wise (same value
    ranges as `_order`)."""
    dates = [day_str(base_date, i) for i in range(2401)]
    wa = np.array(words, dtype=object)
    nw = g.integers(3, 9, n)
    idx = g.integers(0, len(words), (n, 8))
    comments = [" ".join(wa[r[:k]]) for r, k in zip(idx, nw)]
    cols = [g.integers(1, ncust + 1, n).tolist(),
            np.array(STATUSES)[g.integers(0, len(STATUSES), n)].tolist(),
            g.integers(100, 50_000_001, n).tolist(),
            g.integers(0, 2401, n).tolist(),
            np.array(PRIORITIES)[g.integers(0, len(PRIORITIES), n)].tolist(),
            g.integers(1, 501, n).tolist(),
            g.integers(0, 2, n).tolist()]
    return {k: [str(k), str(c), st, str(t), dates[d], p, "Clerk#%05d" % cl, str(sh), cm]
            for k, c, st, t, d, p, cl, sh, cm in zip(range(1, n + 1), *cols, comments)}


def _customer(rng, key):
    return [str(key), "Customer#%07d" % key, rng.choice(SEGMENTS),
            str(rng.randint(0, 24)),
            "%02d-%03d-%03d-%04d" % (rng.randint(10, 34), rng.randint(100, 999),
                                     rng.randint(100, 999), rng.randint(1000, 9999))]


def _write_csv(path, rows):
    with open(path, "w") as f:
        f.write(",".join(ORDER_COLS) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def _cust_json(r):
    return json.dumps({"c_custkey": int(r[0]), "c_name": r[1],
                       "profile": {"segment": r[2], "nation": int(r[3])},
                       "contact": {"phone": r[4]}}, sort_keys=True)


def gen_elt(seed, out, days):
    rng = random.Random(seed * 1_000_003 + 1)
    cfg = ELT
    words = make_vocab(rng, 400)
    base_date = datetime.date(1992, 1, 1)
    os.makedirs(out, exist_ok=True)

    nc, no = cfg["base_customers"], cfg["base_orders"]
    orders = _base_orders(np.random.default_rng([seed, 1]), no, nc, words, base_date)
    custs = {k: _customer(rng, k) for k in range(1, nc + 1)}
    _write_csv(os.path.join(out, "base_orders.csv"), [orders[k] for k in sorted(orders)])
    with open(os.path.join(out, "base_customers.ndjson"), "w") as f:
        for k in sorted(custs):
            f.write(_cust_json(custs[k]) + "\n")

    digest = sum(row_hash(r) for r in orders.values())
    cur = dict(custs)
    dim_rows = len(cur)
    cur_digest = sum(row_hash(r) for r in cur.values())
    audit_rows = 0
    next_order, next_cust = no + 1, nc + 1
    truth, load_bytes = [], []
    for d in range(days):
        ddir = os.path.join(out, "day_%04d" % d)
        os.makedirs(ddir, exist_ok=True)
        n_upd = int(cfg["delta_rows"] * cfg["delta_update_share"])
        n_ins = cfg["delta_rows"] - n_upd
        upd_keys = rng.sample(range(1, next_order), n_upd)
        delta = []
        for k in upd_keys:
            r = list(orders[k])
            r[2] = rng.choice(STATUSES)
            r[3] = str(rng.randint(100, 50_000_000))
            r[5] = rng.choice(PRIORITIES)
            delta.append(r)
        for _ in range(n_ins):
            delta.append(_order(rng, next_order, next_cust - 1, words, base_date))
            next_order += 1
        rng.shuffle(delta)
        per = math.ceil(len(delta) / cfg["delta_files"])
        for fi in range(cfg["delta_files"]):
            _write_csv(os.path.join(ddir, "orders_%02d.csv" % fi),
                       delta[fi * per:(fi + 1) * per])
        for r in delta:
            k = int(r[0])
            if k in orders:
                digest -= row_hash(orders[k])
            orders[k] = r
            digest += row_hash(r)
        audit_rows += len(delta)

        n_chg = int(cfg["cust_changes"] * cfg["cust_changed_share"])
        n_same = int(cfg["cust_changes"] * cfg["cust_same_share"])
        n_new = cfg["cust_changes"] - n_chg - n_same
        keys = rng.sample(sorted(cur), n_chg + n_same)
        changes = []
        for i, k in enumerate(keys):
            r = list(cur[k])
            if i < n_chg:
                r[2] = rng.choice([s for s in SEGMENTS if s != r[2]])
                if rng.random() < 0.5:
                    r[4] = "%02d-%03d-%03d-%04d" % (rng.randint(10, 34), rng.randint(100, 999),
                                                   rng.randint(100, 999), rng.randint(1000, 9999))
            changes.append(r)
        for _ in range(n_new):
            changes.append(_customer(rng, next_cust))
            next_cust += 1
        rng.shuffle(changes)
        with open(os.path.join(ddir, "customers.ndjson"), "w") as f:
            for r in changes:
                f.write(_cust_json(r) + "\n")
        for r in changes:
            k = int(r[0])
            old = cur.get(k)
            if old == r:
                continue
            if old is not None:
                cur_digest -= row_hash(old)
            cur[k] = r
            cur_digest += row_hash(r)
            dim_rows += 1  # a changed key closes one row and adds one; a new key adds one
        truth.append({
            "day": d, "date": day_str(datetime.date(2024, 1, 1), d),
            "fact_rows": len(orders), "fact_digest": str(digest),
            "dim_rows": dim_rows, "dim_current": len(cur),
            "dim_current_digest": str(cur_digest), "audit_rows": audit_rows,
            "delta_rows": len(delta),
        })
        load_bytes.append(sum(os.path.getsize(os.path.join(ddir, f)) for f in os.listdir(ddir)))
    return {
        "workload": "elt_daily", "seed": seed, "config": cfg, "days": days,
        "sizes": {"base_orders": no, "base_customers": nc,
                  "delta_rows_per_day": cfg["delta_rows"],
                  "cust_changes_per_day": cfg["cust_changes"],
                  "delta_bytes_per_day_median": sorted(load_bytes)[len(load_bytes) // 2]},
        "truth": truth,
    }


# ---------------------------------------------------------------------------
# sql_reports
# ---------------------------------------------------------------------------

SQL = {"customers": 15000, "orders": 150000, "max_lines": 7, "parts": 20000,
       "suppliers": 1000, "repeat_share": 0.3}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["ECONOMY ANODIZED STEEL", "PROMO BRUSHED COPPER", "STANDARD POLISHED TIN",
          "LARGE PLATED BRASS", "MEDIUM BURNISHED NICKEL", "SMALL ECONOMY STEEL"]
REPORTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reports.json")
# name -> {"dialect", "reads", "sql", optional "duckdb"}, in file order
REPORTS = {t["name"]: t for t in json.load(open(REPORTS_FILE))["templates"]}
SQL_TEMPLATES = list(REPORTS)
SQL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def gen_sql_tables(g, rng, out):
    """Write the star schema as parquet; returns row counts. Money is in
    integer cents, dates are DATE."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d0 = np.datetime64("1992-01-01", "D")
    words = np.array(make_vocab(rng, 300), dtype=object)
    nc, no, np_, ns = SQL["customers"], SQL["orders"], SQL["parts"], SQL["suppliers"]

    def pick(values, n):
        return np.array(values, dtype=object)[g.integers(0, len(values), n)]

    lines = g.integers(1, SQL["max_lines"] + 1, no)
    nl = int(lines.sum())
    first = np.concatenate([[0], np.cumsum(lines)[:-1]])
    okey = np.arange(1, no + 1)
    odate = g.integers(0, 2401, no)
    qty = g.integers(1, 51, nl)
    price = qty * g.integers(90_000, 200_001, nl) // 100
    ship = np.repeat(odate, lines) + g.integers(1, 121, nl)
    tables = {
        "region": {"r_regionkey": np.arange(5), "r_name": np.array(REGIONS, dtype=object)},
        "nation": {"n_nationkey": np.arange(25),
                   "n_name": np.array(["NATION_%02d" % i for i in range(25)], dtype=object),
                   "n_regionkey": np.arange(25) % 5},
        "customer": {"c_custkey": np.arange(1, nc + 1),
                     "c_name": np.array(["Customer#%06d" % k for k in range(1, nc + 1)],
                                        dtype=object),
                     "c_nationkey": g.integers(0, 25, nc),
                     "c_mktsegment": pick(SEGMENTS, nc),
                     "c_acctbal_cents": g.integers(-99_999, 1_000_000, nc)},
        "supplier": {"s_suppkey": np.arange(1, ns + 1),
                     "s_name": np.array(["Supplier#%05d" % k for k in range(1, ns + 1)],
                                        dtype=object),
                     "s_nationkey": g.integers(0, 25, ns),
                     "s_acctbal_cents": g.integers(-99_999, 1_000_000, ns)},
        "part": {"p_partkey": np.arange(1, np_ + 1),
                 "p_name": pick(words, np_) + " " + pick(words, np_),
                 "p_brand": np.array(["Brand#%d%d" % (a, b) for a, b in
                                      g.integers(1, 6, (np_, 2))], dtype=object),
                 "p_type": pick(PTYPES, np_),
                 "p_size": g.integers(1, 51, np_),
                 "p_retail_cents": g.integers(90_000, 200_001, np_)},
        "orders": {"o_orderkey": okey,
                   "o_custkey": g.integers(1, nc + 1, no),
                   "o_orderstatus": pick(STATUSES, no),
                   "o_total_cents": np.add.reduceat(price, first),
                   "o_orderdate": d0 + odate,
                   "o_orderpriority": pick(PRIORITIES, no)},
        "lineitem": {"l_orderkey": np.repeat(okey, lines),
                     "l_linenumber": np.arange(nl) - np.repeat(first, lines) + 1,
                     "l_partkey": g.integers(1, np_ + 1, nl),
                     "l_suppkey": g.integers(1, ns + 1, nl),
                     "l_quantity": qty,
                     "l_price_cents": price,
                     "l_discount_bp": g.integers(0, 11, nl) * 100,
                     "l_returnflag": pick(["A", "N", "R"], nl),
                     "l_linestatus": np.where(ship < 2000, "F", "O").astype(object),
                     "l_shipdate": d0 + ship},
    }
    for t, cols in tables.items():
        arrays = {c: pa.array(v, type=pa.string() if v.dtype == object
                              else pa.date32() if v.dtype.kind == "M" else pa.int64())
                  for c, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out, t + ".parquet"))
    return {t: len(next(iter(cols.values()))) for t, cols in tables.items()}


def _date(d0, lo, hi, rng):
    return {"date": day_str(d0, rng.randint(lo, hi))}


def sql_params(rng, template):
    """Draw the parameters of one report request."""
    d0 = datetime.date(1992, 1, 1)
    if template == "pricing_summary":
        return {"ship_before": _date(d0, 1500, 2500, rng)}
    if template == "segment_revenue":
        return {"segment": rng.choice(SEGMENTS), "before": _date(d0, 600, 2000, rng)}
    if template == "top_parts":
        return {"min_size": rng.randint(10, 45), "type_pat": "%" + rng.choice(
            ["STEEL", "COPPER", "TIN", "BRASS", "NICKEL"]) + "%"}
    if template == "customer_running":
        lo = rng.randint(1, SQL["customers"] - 40)
        return {"lo": lo, "hi": lo + 30}
    if template == "nation_rollup":
        return {"min_bal": rng.randint(-50_000, 500_000)}
    if template == "big_spenders":
        return {"big": rng.randint(300_000, 450_000), "status": rng.choice(STATUSES)}
    if template == "topk_per_segment":
        return {"k": rng.randint(1, 5), "year": rng.randint(1992, 1997)}
    if template == "frequent_customers":
        return {"min_orders": rng.randint(8, 14)}
    if template == "supplier_star":
        return {"max_size": rng.randint(5, 40), "region_name": rng.choice(REGIONS)}
    if template == "pg_priority_mix":
        return {"from": day_str(d0, rng.randint(0, 2200)), "to_days": rng.randint(30, 200)}
    if template == "sf_latest_order":
        return {"segment": rng.choice(SEGMENTS), "min_total": rng.randint(100_000, 500_000)}
    if template == "ms_top_returns":
        return {"flag": rng.choice("ANR"), "n": rng.randint(5, 20)}
    raise ValueError(template)


def gen_sql(seed, out, n_requests):
    rng = random.Random(seed * 1_000_003 + 2)
    os.makedirs(out, exist_ok=True)
    counts = gen_sql_tables(np.random.default_rng([seed, 2]), rng, out)
    shutil.copy(REPORTS_FILE, os.path.join(out, "reports.json"))
    # Templates come in shuffled blocks holding each template once, so every
    # seed sees the same template mix; the seed draws the order and the
    # parameters. A request repeats an earlier exact (template, params)
    # pair of its template with probability repeat_share.
    stream, seen, repeats = [], {t: [] for t in SQL_TEMPLATES}, 0
    while len(stream) < n_requests:
        block = list(SQL_TEMPLATES)
        rng.shuffle(block)
        for t in block:
            if seen[t] and rng.random() < SQL["repeat_share"]:
                stream.append(rng.choice(seen[t]))
                repeats += 1
            else:
                req = {"template": t, "params": sql_params(rng, t)}
                stream.append(req)
                seen[t].append(req)
    stream = stream[:n_requests]
    warm = [{"template": t, "params": sql_params(rng, t)} for t in SQL_TEMPLATES]
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump({"warmup": warm, "requests": stream}, f)
    reads = {t: sum(counts[x] for x in REPORTS[t]["reads"]) for t in SQL_TEMPLATES}
    return {
        "workload": "sql_reports", "seed": seed, "config": SQL,
        "sizes": dict(counts, requests=n_requests, planned_repeats=repeats),
        "tables": list(SQL_TABLES), "rows_read": reads,
    }


# ---------------------------------------------------------------------------
# curate_corpus
# ---------------------------------------------------------------------------

CORPUS = {
    "base_docs": 3000,
    "exact_copy_share": 0.12,   # of base docs, copied verbatim (1-2 copies)
    "near_dup_share": 0.12,     # of base docs, with 1-2 one-word-edited variants
    "low_quality": 400,         # short or symbol-spam docs (fail the quality rules)
    "min_tokens": 110, "max_tokens": 170,
    "num_hashes": 64, "bands": 16, "threshold": 0.7, "shingle": 3,
}
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "that", "it",
             "for", "with", "was", "are"]


def _good_doc(rng, vocab):
    n = rng.randint(CORPUS["min_tokens"], CORPUS["max_tokens"])
    return [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n)]


def _shingles(toks, k):
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def gen_corpus(seed, out):
    rng = random.Random(seed * 1_000_003 + 3)
    cfg = CORPUS
    os.makedirs(out, exist_ok=True)
    vocab = make_vocab(rng, 6000)
    clusters = []  # per base doc: list of token lists (base first)
    for _ in range(cfg["base_docs"]):
        clusters.append([_good_doc(rng, vocab)])
    nb = cfg["base_docs"]
    for ci in rng.sample(range(nb), int(nb * cfg["exact_copy_share"])):
        for _ in range(rng.randint(1, 2)):
            clusters[ci].append(list(clusters[ci][0]))
    for ci in rng.sample(range(nb), int(nb * cfg["near_dup_share"])):
        for _ in range(rng.randint(1, 2)):
            toks = list(clusters[ci][0])
            pos = rng.randrange(len(toks))
            toks[pos] = rng.choice([w for w in (rng.choice(vocab) for _ in range(3))
                                    if w != toks[pos]] or ["zzzz"])
            clusters[ci].append(toks)
    low = []
    for i in range(cfg["low_quality"]):
        if i % 2 == 0:   # too short: fails min_tokens (50)
            low.append([rng.choice(vocab) for _ in range(rng.randint(8, 30))])
        else:            # symbol spam: fails max symbol ratio (0.1)
            low.append([("#" if rng.random() < 0.4 else rng.choice(vocab))
                        for _ in range(rng.randint(80, 120))])

    docs = [(c, toks) for c, members in enumerate(clusters) for toks in members]
    docs += [(-1, toks) for toks in low]
    ids = rng.sample(range(1, 10 * len(docs)), len(docs))
    dumps = ([], [])
    kept, planted, pairs_expected = [], 0, 0
    by_cluster = {}
    for (c, toks), i in zip(docs, ids):
        rec = {"id": i, "url": "https://example.org/doc/%d" % i, "text": " ".join(toks)}
        dumps[rng.randint(0, 1)].append(rec)
        if c >= 0:
            by_cluster.setdefault(c, []).append((i, toks))
    miss_bound = 0.0
    r, b = cfg["num_hashes"] // cfg["bands"], cfg["bands"]
    min_j = 1.0
    for c, members in by_cluster.items():
        members.sort()
        kept.append(members[0][0])
        planted += len(members) - 1
        # after exact dedup each distinct text keeps its smallest id; every
        # pair of distinct texts in a cluster is a planted near-dup pair
        distinct = {}
        for i, toks in members:
            distinct.setdefault(" ".join(toks), (i, toks))
        texts = list(distinct.values())
        for x in range(len(texts)):
            for y in range(x + 1, len(texts)):
                j = _jaccard(_shingles(texts[x][1], cfg["shingle"]),
                             _shingles(texts[y][1], cfg["shingle"]))
                min_j = min(min_j, j)
                pairs_expected += 1
                # P(no band collides) for a pair of Jaccard j
                miss_bound += (1.0 - j ** r) ** b
    for n, recs in zip("ab", dumps):
        with open(os.path.join(out, "dump_%s.ndjson" % n), "w") as f:
            for rec in recs:
                f.write(json.dumps(rec) + "\n")
    kept.sort()
    dups = sorted(i for members in by_cluster.values() for i, _ in members[1:])
    for name, ids_ in (("kept_ids.json", kept), ("dup_ids.json", dups)):
        with open(os.path.join(out, name), "w") as f:
            json.dump(ids_, f)
    return {
        "workload": "curate_corpus", "seed": seed, "config": cfg,
        "sizes": {"docs": len(docs), "dump_a": len(dumps[0]), "dump_b": len(dumps[1]),
                  "bytes": sum(os.path.getsize(os.path.join(out, "dump_%s.ndjson" % n))
                               for n in "ab")},
        "truth": {"kept": len(kept), "planted_dups": planted,
                  "near_dup_pairs": pairs_expected, "min_planted_jaccard": min_j,
                  "lsh_expected_misses": miss_bound},
    }
