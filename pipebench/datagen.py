"""Seeded inputs for the pipeline benchmark.

Everything here is a pure function of the seed: the corpus tables the
analytics read, the api_mix request sequence and the live_ingest drop
schedule. Tables mirror the layout of the project's test corpus (one
parquet file per table, a single row group each, microsecond
timestamps), at a smaller size so that a run fits in seconds.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus size. Orders per customer (~10) matches the test corpus, so the
# model stage's >= 10 orders gate keeps about half of the customers.
CUSTOMERS = 3000
SUPPLIERS = 200
PARTS = 4000
ORDERS = 30000
EVENT_USERS = 1500
EVENTS = 20000
DOCUMENTS = 1500

# api_mix: each block of 10 requests holds exactly 7 lookups and 3
# board requests, so every seed sees the same 70/30 mix.
LOOKUPS = ["recent_form", "form_string", "latest_event", "nation_pair_trade"]
BOARDS = ["nation_revenue_standings", "top_spenders", "top_orders_per_priority"]
BLOCK_LOOKUPS = 7
BLOCK_BOARDS = 3
ZIPF_S = 1.1
PLAN_REQUESTS = 6000

# live_ingest: MATCHES fixed match keys; one snapshot file every
# DROP_INTERVAL_MS holding ROWS_PER_DROP of them: 1500 rows/s, about a
# quarter of the rate the stream sustained on a 4-core machine (at 8000
# rows/s its backlog grew; at 4000 rows/s freshness held at ~2 s). Nearer
# that limit a slower host makes each batch bigger as well as slower, which
# amplifies host-speed swings in freshness.
MATCHES = 400
DROP_INTERVAL_MS = 100
ROWS_PER_DROP = 150
RESCRAPE_SHARE = 0.10
OUT_OF_ORDER_SHARE = 0.10
OUT_OF_ORDER_MAX_MS = 20000  # far inside the stream's 1 h watermark

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TOPIC_WORDS = ("agg batch big column customer data fast filter group hash join key "
               "line merge order part query row scan slow small sort spark stream "
               "table value vector window").split()
STOPWORDS = {
    "en": ["the", "a", "of", "and", "in", "to", "is", "with", "for"],
    "de": ["der", "die", "das", "und", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "dans"],
    "es": ["el", "los", "las", "es", "y", "en"],
}
TEAMS = ("Arsenal Chelsea Everton Fulham Brentford Burnley Leeds Wolves Bayern Dortmund "
         "Leipzig Freiburg Mainz Bochum Augsburg Union Porto Benfica Braga Sporting Ajax "
         "Feyenoord Celtic Rangers Lazio Roma Napoli Torino Sevilla Valencia Girona Betis "
         "Lyon Nantes Lille Monaco Brest Reims Basel Zurich").split()
SOURCES = ["flashscore", "sofascore", "livescore"]
STATUS_TEXT = ["1'", "23'", "45'", "67'", "90'", "HT", "ET", "PEN", "FT", "AET", "FIN", "19:30", ""]


def _rng(seed, stream):
    """Independent generator per input stream, so resizing one stream
    leaves the others unchanged for the same seed."""
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_tables(seed, out_dir):
    """Write the corpus tables under out_dir as <name>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    ck = np.arange(CUSTOMERS, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(r.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, CUSTOMERS)],
    }), f"{out_dir}/customer.parquet")

    sk = np.arange(SUPPLIERS, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(r.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, SUPPLIERS), 2),
    }), f"{out_dir}/supplier.parquet")

    adjectives = ["large", "hot", "cold", "small", "bright", "dark", "shiny", "matte"]
    nouns = ["ring", "bolt", "nut", "gear", "valve", "pipe", "plate", "spring"]
    _write(pa.table({
        "p_partkey": np.arange(PARTS, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(r.integers(0, 8, PARTS), r.integers(0, 8, PARTS))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, PARTS)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, PARTS)],
        "p_size": pa.array(r.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900 + r.uniform(0, 1100, PARTS), 2),
    }), f"{out_dir}/part.parquet")

    odate = _days(r, ORDERS, "1995-01-01", 2400)
    _write(pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": r.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in r.integers(0, 3, ORDERS)],
        "o_totalprice": np.round(r.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, ORDERS)],
    }), f"{out_dir}/orders.parquet")

    lines = r.integers(1, 8, ORDERS)
    n = int(lines.sum())
    lorder = np.repeat(np.arange(ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = r.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, lines) + r.integers(1, 122, n).astype("timedelta64[D]").astype("timedelta64[us]")
    status = r.integers(0, 6, n)
    _write(pa.table({
        "l_orderkey": lorder,
        "l_partkey": r.integers(0, PARTS, n).astype(np.int64),
        "l_suppkey": r.integers(0, SUPPLIERS, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][i % 3] for i in status],
        "l_linestatus": [["F", "O"][i // 3] for i in status],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    ts = np.datetime64("2024-01-01", "us") + r.integers(0, 30 * 86400 * 10**6, EVENTS).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, EVENT_USERS, EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, EVENTS)],
        "value": np.round(r.uniform(0, 560, EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, EVENTS)],
    }), f"{out_dir}/events.parquet")

    _write(_documents(_rng(seed, 2)), f"{out_dir}/documents.parquet")


def _documents(r):
    """Word-salad documents in five languages, with planted exact copies,
    near-duplicates (one word changed, so SimHash clusters form) and
    benchmark leaks (a run of words copied from a doc_id % 97 == 0 doc),
    so every curation stage has both outcomes to decide."""
    langs = ["en", "en", "en", "de", "fr", "es"]
    texts, lang_of = [], []
    for i in range(DOCUMENTS):
        pick = r.random()
        if i > 10 and pick < 0.03:
            src = int(r.integers(0, i))
            texts.append(texts[src])
            lang_of.append(lang_of[src])
            continue
        if i > 10 and pick < 0.13:
            src = int(r.integers(0, i))
            words = texts[src].split(" ")
            words[int(r.integers(0, len(words)))] = TOPIC_WORDS[int(r.integers(0, len(TOPIC_WORDS)))]
            texts.append(" ".join(words))
            lang_of.append(lang_of[src])
            continue
        lang = langs[int(r.integers(0, len(langs)))]
        n = int(r.integers(12, 100))
        stop = STOPWORDS[lang]
        words = [stop[int(r.integers(0, len(stop)))] if r.random() < 0.2
                 else TOPIC_WORDS[int(r.integers(0, len(TOPIC_WORDS)))] for _ in range(n)]
        if i > 97 and pick > 0.95:
            bench = texts[97 * int(r.integers(0, (i - 1) // 97 + 1))].split(" ")
            at = int(r.integers(0, max(1, len(bench) - 6)))
            words[:0] = bench[at:at + 6]
        texts.append(" ".join(words))
        lang_of.append(lang)
    return pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": lang_of,
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _zipf_ids(r, n, keys):
    """n ids over range(keys): Zipf-ranked, ranks mapped to ids through a
    seeded permutation so the hot ids are spread over the key space."""
    weights = 1.0 / np.arange(1, keys + 1) ** ZIPF_S
    ranks = r.choice(keys, size=n, p=weights / weights.sum())
    return r.permutation(keys)[ranks]


def api_plan(seed):
    """The api_mix request sequence: a list of [kind, id] (id -1 for
    board requests, which take no id)."""
    r = _rng(seed, 3)
    key_space = {"recent_form": CUSTOMERS, "form_string": CUSTOMERS,
                 "nation_pair_trade": 25, "latest_event": EVENT_USERS}
    blocks = PLAN_REQUESTS // (BLOCK_LOOKUPS + BLOCK_BOARDS)
    ids = {k: iter(_zipf_ids(r, blocks * BLOCK_LOOKUPS, n)) for k, n in key_space.items()}
    plan = []
    for _ in range(blocks):
        lookups = [LOOKUPS[i % 4] for i in range(BLOCK_LOOKUPS)]
        boards = [BOARDS[i % 3] for i in range(BLOCK_BOARDS)]
        block = [[k, int(next(ids[k]))] for k in lookups] + [[k, -1] for k in boards]
        plan.extend(block[i] for i in r.permutation(len(block)))
    return plan


def _match_row(seed, match, stamp_key):
    """Snapshot content as a pure function of (match, stamp): two rows that
    tie on (match, scraped_at) are always identical."""
    h = hashlib.sha256(f"{seed}/{match}/{stamp_key}".encode()).digest()
    status = STATUS_TEXT[h[0] % len(STATUS_TEXT)]
    if status in ("19:30", ""):
        score = "-"
    else:
        score = f"{h[1] % 6}{'-' if h[2] % 2 else ':'}{h[3] % 6}"
    return {"score_text": score, "status_text": status, "match_time": f"{h[4] % 24:02d}:{h[5] % 4 * 15:02d}"}


def live_plan(seed, seconds):
    """The live_ingest input: fixed match keys, a warm-up snapshot of every
    match, and `seconds` worth of scheduled drops. Each drop row is [match, offset_ms,
    score_text, status_text, match_time]; scraped_at is the drop's due
    time plus offset_ms (0, or negative for an out-of-order row)."""
    r = _rng(seed, 4)
    matches = []
    seen = set()
    while len(matches) < MATCHES:
        h, a = (int(x) for x in r.choice(len(TEAMS), 2, replace=False))
        s = SOURCES[int(r.integers(0, len(SOURCES)))]
        if (h, a, s) not in seen:
            seen.add((h, a, s))
            matches.append([TEAMS[h], TEAMS[a], s])
    warm = [[m, 0, *_match_row(seed, m, "warm").values()] for m in range(MATCHES)]
    drops, history = [], []
    for d in range(int(seconds * 1000 // DROP_INTERVAL_MS) + 1):
        due = d * DROP_INTERVAL_MS
        rows = []
        for m in r.choice(MATCHES, ROWS_PER_DROP, replace=False):
            m = int(m)
            u = r.random()
            if history and u < RESCRAPE_SHARE:
                # exact re-scrape of an earlier row: same match, same scraped_at
                pm, pdue, poff = history[int(r.integers(0, len(history)))]
                off = pdue + poff - due
                rows.append([pm, off, *_match_row(seed, pm, pdue + poff).values()])
                continue
            off = -int(r.integers(1, OUT_OF_ORDER_MAX_MS)) if u < RESCRAPE_SHARE + OUT_OF_ORDER_SHARE else 0
            rows.append([m, off, *_match_row(seed, m, due + off).values()])
            history.append((m, due, off))
        drops.append({"due_ms": due, "rows": rows})
    return {"matches": matches, "warm": warm, "drops": drops}
