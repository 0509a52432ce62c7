#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Three generators, all deterministic in their seed and single-threaded:

  nginx_files(dir, seed, ...)   rotated nginx access-log files for the
                                file-backlog workload, plus the checksums
                                the sink must reproduce;
  tables(dir, scale)            the ten catalog tables (TPC-H-like star
                                schema, events, documents, embeddings) for
                                the query workload;
  syslog sender (the CLI)       an open-loop RFC3164 sender over one TCP
                                connection, run as its own process:

      python3 gen.py syslog --seed N --rate R --steady-s S --burst B

The syslog sender listens on an ephemeral port and prints `port <p>`. The
engine's syslog-tcp source connects to it. Commands arrive on stdin:
`warm <n>` sends n lines at once and answers `warmed <n>`; `go` runs the
steady phase (R lines/s for S seconds, each line due at a fixed time) and
answers `steady <json>` with the schedule and how late the sender ran;
`burst` sends B lines at once and answers `done <json>`; `close` (or end
of input) closes the connection and exits.
"""
import argparse
import json
import os
import socket
import sys
import time

import numpy as np

# lines follow the engine's ingest log_format (`DataOps.ingestConfig`):
#   $remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent $request_time
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
STATUSES = np.array([200, 200, 200, 200, 200, 200, 301, 304, 404, 500])
PATHS = ["/", "/index.html", "/api/v1/items", "/api/v1/users", "/static/app.js",
         "/static/site.css", "/img/logo.png", "/search", "/cart", "/login"]
METHODS = ["GET", "GET", "GET", "POST", "HEAD"]

# malformed kinds: each is rejected by the parse/cast stage for one reason
MALFORMED_KINDS = ["garbage", "bad_status", "status_overflow",
                   "bad_bytes", "bad_time", "bad_request_time"]

# share of malformed lines, in percent, in every generated input
MALFORMED_PCT = 1.0
# the syslog sender's send interval in the steady phase
TICK_MS = 5.0

# time_local spans two months: March and April 2024 (61 days, UTC)
T0_EPOCH = 1709251200          # 2024-03-01T00:00:00Z
SPAN_S = 61 * 86400
MONTH_SPLIT = 1711929600       # 2024-04-01T00:00:00Z


def _day_strings():
    out = []
    for d in range(61):
        month, day = (3, d + 1) if d < 31 else (4, d - 30)
        out.append(f"{day:02d}/{MONTHS[month - 1]}/2024")
    return out


DAYS = _day_strings()
TODS = [f"{h:02d}:{m:02d}:{s:02d}"
        for h in range(24) for m in range(60) for s in range(60)]


def _ips(rng, n):
    a = rng.integers(1, 255, size=(n, 4))
    return [f"{w}.{x}.{y}.{z}" for w, x, y, z in a.tolist()]


def nginx_lines(rng, n, seq0=0, path_fmt=None):
    """n nginx lines and their per-line truth.

    Returns (lines, valid, status, bytes_sent, epoch_s); the last four are
    numpy arrays, meaningful only where `valid` is true.
    """
    ips = _ips(rng, 512)
    ip = rng.integers(0, len(ips), n)
    secs = rng.integers(0, SPAN_S, n)
    status = STATUSES[rng.integers(0, len(STATUSES), n)]
    nbytes = rng.integers(0, 200000, n)
    rt = rng.integers(0, 5000, n)
    meth = rng.integers(0, len(METHODS), n)
    path = rng.integers(0, len(PATHS), n)
    bad = rng.random(n) < MALFORMED_PCT / 100.0
    kind = rng.integers(0, len(MALFORMED_KINDS), n)
    lines = []
    day = (secs // 86400).tolist()
    tod = (secs % 86400).tolist()
    for i, (p, d, t, st, b, r, m, pa, isbad, k) in enumerate(zip(
            ip.tolist(), day, tod, status.tolist(), nbytes.tolist(),
            rt.tolist(), meth.tolist(), path.tolist(), bad.tolist(),
            kind.tolist())):
        req_path = PATHS[pa] if path_fmt is None else path_fmt(seq0 + i)
        ts = f"{DAYS[d]}:{TODS[t]} +0000"
        st_s, b_s, r_s = str(st), str(b), f"{r // 1000}.{r % 1000:03d}"
        if isbad:
            kname = MALFORMED_KINDS[k]
            if kname == "garbage":
                lines.append(f"{ips[p]} garbage line {seq0 + i} without fields")
                continue
            if kname == "bad_status":
                st_s = "2x0"
            elif kname == "status_overflow":
                st_s = "70000"
            elif kname == "bad_bytes":
                b_s = f"-{b + 1}"
            elif kname == "bad_time":
                ts = f"32/Foo/2024:{TODS[t]} +0000"
            else:
                r_s = "x.y"
        lines.append(f'{ips[p]} - - [{ts}] "{METHODS[m]} {req_path} HTTP/1.1" '
                     f"{st_s} {b_s} {r_s}")
    return lines, ~bad, status, nbytes, T0_EPOCH + secs


def nginx_files(out_dir, seed, n_lines, n_files):
    """Write `n_files` rotated access-log files holding `n_lines` lines.

    Returns the expected sink content: accepted/rejected counts, count per
    status, sum(bytes_sent), min/max time_local (epoch seconds) and the
    number of accepted rows per insert_month.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    per = n_lines // n_files
    acc = rej = bsum = 0
    by_status = {}
    tmin, tmax = None, None
    months = {"202403": 0, "202404": 0}
    in_bytes = 0
    for f in range(n_files):
        n = per if f < n_files - 1 else n_lines - per * (n_files - 1)
        lines, valid, status, nbytes, epoch = nginx_lines(
            rng, n, seq0=f * per)
        data = ("\n".join(lines) + "\n").encode()
        in_bytes += len(data)
        # rotated names, oldest first: access.log.<n> ... access.log.1
        with open(os.path.join(out_dir, f"access.log.{n_files - f:04d}"), "wb") as fh:
            fh.write(data)
        v = valid
        acc += int(v.sum())
        rej += int((~v).sum())
        bsum += int(nbytes[v].sum())
        for s, c in zip(*np.unique(status[v], return_counts=True)):
            by_status[str(int(s))] = by_status.get(str(int(s)), 0) + int(c)
        lo, hi = int(epoch[v].min()), int(epoch[v].max())
        tmin = lo if tmin is None else min(tmin, lo)
        tmax = hi if tmax is None else max(tmax, hi)
        early = int((epoch[v] < MONTH_SPLIT).sum())
        months["202403"] += early
        months["202404"] += int(v.sum()) - early
    return {"lines": n_lines, "files": n_files, "input_bytes": in_bytes,
            "accepted": acc, "rejected": rej, "by_status": by_status,
            "sum_bytes_sent": bsum, "min_time_local": tmin,
            "max_time_local": tmax, "by_month": months}


# ---------------------------------------------------------------- tables

def _write(table_dir, name, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(cols), os.path.join(table_dir, f"{name}.parquet"))


def _ts_us(days_from, days_to, rng, n, base="1995-01-01"):
    import pyarrow as pa
    d = rng.integers(days_from, days_to, n)
    us = (np.datetime64(base, "us") + d.astype("timedelta64[D]")).astype("int64")
    return pa.array(us, type=pa.timestamp("us"))


def tables(table_dir, scale, seed=42):
    """The ten catalog tables at `scale` (1.0 = 6M lineitem rows).

    Columns, types and value domains follow the catalog's test tables;
    every column is drawn independently from a fixed seed.
    """
    import pyarrow as pa
    os.makedirs(table_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = max(500, int(50000 * scale)), max(200, int(20000 * scale))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(table_dir, "region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(table_dir, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(table_dir, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    _write(table_dir, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _write(table_dir, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [types[t] for t in rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(table_dir, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(0, 2404, rng, n_ord),
        "o_orderpriority": [prios[p] for p in rng.integers(0, 5, n_ord)]})
    _write(table_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[s] for s in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(1, 2499, rng, n_li)})
    gaps = rng.exponential(26.0, n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
          + (np.cumsum(gaps) * 1e6).astype(np.int64))
    etypes = ["click", "error", "purchase", "signup", "view"]
    _write(table_dir, "events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(1, n_ev // 66), n_ev)),
        "event_type": [etypes[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 20 and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.0516:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[w] for w in rng.integers(0, len(vocab), k)))
    langs = ["de", "en", "en", "en", "es", "fr", "zh"]
    _write(table_dir, "documents", {
        "doc_id": i64(range(n_doc)),
        "text": texts,
        "lang": [langs[g] for g in rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(table_dir, "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


# ---------------------------------------------------------------- syslog

def _syslog_frame(line, seq):
    # RFC3164: <PRI>Mmm dd hh:mm:ss host tag: content
    return f"<134>Mar  1 00:00:00 gen{seq % 7} nginx: {line}\n"


class SyslogSender:
    def __init__(self, seed):
        self.rng = np.random.default_rng([seed, 2])
        self.seq = 0
        self.accepted = 0

    def chunk(self, n):
        """n framed lines as bytes; the request path carries the sequence."""
        lines, valid, *_ = nginx_lines(self.rng, n, seq0=self.seq,
                                       path_fmt=lambda s: f"/s/{s}")
        out = []
        for i, ln in enumerate(lines):
            seq = self.seq + i
            # one in five malformed lines also loses its syslog envelope
            if not valid[i] and seq % 5 == 0:
                out.append(f"no envelope {ln}\n")
            else:
                out.append(_syslog_frame(ln, seq))
        self.seq += n
        self.accepted += int(valid.sum())
        return "".join(out).encode()


def syslog_main(a):
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    print(f"port {srv.getsockname()[1]}", flush=True)
    srv.settimeout(120)   # give up if the engine never connects
    conn, _ = srv.accept()
    srv.close()
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    snd = SyslogSender(a.seed)
    n_warm = 0
    for cmd in sys.stdin:
        cmd = cmd.split()
        if not cmd or cmd[0] == "close":
            break
        if cmd[0] == "warm":
            n = int(cmd[1])
            conn.sendall(snd.chunk(n))
            n_warm += n
            print(f"warmed {n}", flush=True)
        elif cmd[0] == "go":
            n_steady = int(a.rate * a.steady_s)
            step = max(1, int(a.rate * TICK_MS / 1000.0))
            # pre-build every payload so formatting never delays a send
            steady = [snd.chunk(min(step, n_steady - i)) for i in range(0, n_steady, step)]
            burst = snd.chunk(a.burst)
            late_max = 0.0
            t0 = time.time()
            for k, payload in enumerate(steady):
                due = t0 + k * step / a.rate
                now = time.time()
                if now < due:
                    time.sleep(due - now)
                else:
                    late_max = max(late_max, (now - due) * 1000.0)
                conn.sendall(payload)
            print("steady " + json.dumps({
                "t0_ms": t0 * 1000.0, "rate": a.rate, "n_warm": n_warm,
                "n_steady": n_steady, "late_ms_max": late_max,
                "sent": snd.seq - a.burst}), flush=True)
        elif cmd[0] == "burst":
            burst_t0 = time.time()
            conn.sendall(burst)
            print("done " + json.dumps({
                "n_burst": a.burst, "burst_t0_ms": burst_t0 * 1000.0,
                "burst_sent_ms": time.time() * 1000.0, "sent": snd.seq,
                "accepted": snd.accepted}), flush=True)
    try:
        conn.shutdown(socket.SHUT_RDWR)
    except OSError:
        pass
    conn.close()


def main(argv):
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("syslog")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--rate", type=float, required=True)
    s.add_argument("--steady-s", type=float, required=True)
    s.add_argument("--burst", type=int, required=True)
    syslog_main(p.parse_args(argv))


if __name__ == "__main__":
    main(sys.argv[1:])
