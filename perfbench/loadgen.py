"""Closed-loop HTTP load generator for the `/search` route (stdlib only).

Runs as its own process so that client-side JSON parsing and socket work
never compete for the serving process's interpreter lock.  Each of
``--clients`` threads sends its next request only after the previous
response arrived (closed loop), cycling through the query list from its
own offset.  The run stops once ``--seconds`` have passed and at least
``--min-requests`` completed, or at ``--max-requests`` completed.

Writes one JSON document to ``--out``: the loop's wall time and, per
request, the query index, HTTP status, latency in seconds and the
``[doc_id, score]`` rows of the answer (for the caller's oracle check).

    python3 perfbench/loadgen.py --url http://127.0.0.1:PORT \
        --queries queries.json --clients 4 --seconds 10 \
        --min-requests 1000 --out result.json
"""

from __future__ import annotations

import argparse
import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

from common import K


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--url", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--min-requests", type=int, default=1)
    ap.add_argument("--max-requests", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(args.queries) as f:
        queries = json.load(f)
    urls = [
        f"{args.url}/search?" + urllib.parse.urlencode({"q": q, "k": K})
        for q in queries
    ]
    lock = threading.Lock()
    records: list[list] = []
    issued = [0]
    t_start = time.perf_counter()

    def keep_going() -> bool:
        if args.max_requests and issued[0] >= args.max_requests:
            return False
        n = len(records)
        return n < args.min_requests or time.perf_counter() - t_start < args.seconds

    def client(cid: int) -> None:
        i = cid * len(urls) // args.clients
        while True:
            with lock:
                if not keep_going():
                    return
                issued[0] += 1
            qi = i % len(urls)
            i += 1
            t0 = time.perf_counter()
            try:
                with urllib.request.urlopen(urls[qi], timeout=60) as resp:
                    status, body = resp.status, resp.read()
            except urllib.error.HTTPError as e:
                status, body = e.code, b""
            except OSError:
                status, body = 0, b""
            lat = time.perf_counter() - t0
            rows = None
            if status == 200:
                try:
                    rows = [[r["doc_id"], r["score"]] for r in json.loads(body)]
                except (ValueError, KeyError, TypeError):
                    status = -1
            with lock:
                records.append([qi, status, lat, rows])

    threads = [
        threading.Thread(target=client, args=(c,), daemon=True)
        for c in range(args.clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    with open(args.out, "w") as f:
        json.dump({"wall_s": wall, "clients": args.clients, "records": records}, f)


if __name__ == "__main__":
    main()
