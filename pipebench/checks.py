"""Output checks, run after the timed region. Each returns the set of
failed operations; the runner counts them against the attempted ones.

  api_mix        every reply equals the program's own DuckDB oracle
                 (SparkEntry.oracleSql) for that request, id filter added
  live_ingest    the upserted table equals a DuckDB arg-max of every row
                 dropped into the stream, normalised as the pipeline does
  nightly_batch  every StageResult is "ok" and the curation verdicts equal
                 the q_curation oracle
"""

import glob
import hashlib
import json
import os
import re
from datetime import datetime

import duckdb

# api_mix request kind -> (oracle key, id filter)
API_ORACLE = {
    "recent_form": ("q_recent_form", "o_custkey = {id}"),
    "form_string": ("q_form_string", "o_custkey = {id}"),
    "nation_pair_trade": ("q_h2h_pairs", "nation_lo = {id} OR nation_hi = {id}"),
    "latest_event": ("q_latest_event", "user_id = {id}"),
    "nation_revenue_standings": ("q_standings", None),
    "top_spenders": ("q_top_spenders", None),
    "top_orders_per_priority": ("q_topk_per_group", None),
}


def _connect(data_dir, work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    con.execute("SET threads = 2")
    for path in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    return float(v)


def _rows(dicts):
    return sorted(tuple(sorted((k, _canon(v)) for k, v in d.items())) for d in dicts)


def _query(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _replies(path):
    """(key, hash) -> rows, from the harness's reply log."""
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out[(r["key"], r["hash"])] = r["rows"]
    return out


def check_api(work, data_dir, oracle, requests):
    """Indexes of failed requests (errors or replies unequal to the oracle).
    Each request is [kind, id, latency_ms, rows, hash, error]."""
    con = _connect(data_dir, work)
    good = {}
    for (key, h), rows in _replies(f"{work}/replies.jsonl").items():
        kind, rid = key.split("/")
        qkey, flt = API_ORACLE[kind]
        sql = f"SELECT * FROM ({oracle[qkey]}) AS o"
        if flt:
            sql += " WHERE " + flt.format(id=int(rid))
        good[(key, h)] = _rows(rows) == _rows(_query(con, sql))
    con.close()
    return {i for i, r in enumerate(requests)
            if r[5] or not good.get((f"{r[0]}/{r[1]}", r[4]), False)}


def check_nightly(work, data_dir, oracle, passes):
    """Failed operations of the passes: (pass index, stage name)."""
    con = _connect(data_dir, work)
    expected = _rows(_query(con, oracle["q_curation"]))
    con.close()
    good = {h for (_, h), rows in _replies(f"{work}/curation.jsonl").items() if _rows(rows) == expected}
    failed = set()
    for i, p in enumerate(passes):
        failed |= {(i, s["stage"]) for s in p["stages"] if s["status"] != "ok"}
        if p["curation_error"] or p["curation_hash"] not in good:
            failed.add((i, "curation"))
    return failed


def _score(text):
    m = re.fullmatch(r"(\d+)\s*-\s*(\d+)", (text or "").strip().replace(":", "-"))
    return (int(m.group(1)), int(m.group(2))) if m else (None, None)


def _status(text):
    t = (text or "").strip().upper()
    if re.match(r"\d+'", t) or t in ("HT", "ET", "PEN", "LIVE"):
        return "live"
    if t in ("FT", "AET", "FIN", "FINISHED", "ENDED"):
        return "finished"
    return "scheduled"


def epoch_ms(stamp):
    return round(datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000)


def check_live(input_dir, table_dir):
    """Wrong keys of the final upserted state against an arg-max over every
    dropped row (latest scraped_at wins per match)."""
    latest = {}
    for path in glob.glob(f"{input_dir}/*.json"):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                key = (r["home_team"], r["away_team"], r["source"])
                ms = epoch_ms(r["scraped_at"])
                if key not in latest or ms > latest[key][0]:
                    latest[key] = (ms, r)
                elif ms == latest[key][0] and r != latest[key][1]:
                    raise SystemExit(f"generator emitted two different rows for {key} at {ms}")
    expected = {}
    for (home, away, source), (ms, r) in latest.items():
        eid = hashlib.sha256(f"{home}_{away}_{source}".encode()).hexdigest()
        hs, as_ = _score(r["score_text"])
        expected[eid] = (home, away, source, r["match_time"], ms, hs, as_, _status(r["status_text"]))
    con = duckdb.connect()
    rows = con.execute(
        "SELECT external_id, home_team, away_team, source, match_time, epoch_ms(scraped_at), "
        f"home_score, away_score, status FROM read_parquet('{table_dir}/*.parquet')").fetchall()
    con.close()
    actual = {}
    wrong = set()
    for r in rows:
        if r[0] in actual:
            wrong.add(r[0])
        actual[r[0]] = tuple(r[1:])
    wrong |= {k for k in expected.keys() | actual.keys() if expected.get(k) != actual.get(k)}
    return wrong
