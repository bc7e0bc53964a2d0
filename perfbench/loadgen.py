"""Closed-loop load generator for the ``serve_mix`` workload.

Runs in its own process, so decoding responses never competes with the
gateway for the server process's interpreter lock. It reads one JSON spec
on stdin, drives the gateway over loopback and prints one JSON result on
stdout. Each client waits for its reply before sending again and walks a
fresh seeded permutation of the request multiset every cycle. Phases:

- cold: one request of every type, the types split over the clients;
- warm-up: ``warmup_cycles`` whole cycles, all clients in step; the
  summed latency of each cycle goes into the result;
- a pause until the next stdin line (the server side reads its heap);
- the window: each client runs whole cycles until it has done
  ``window_cycles`` and ``seconds`` have passed, then keeps sending
  unrecorded requests until every client is done, so the load stays at
  the full client count to the end.

Responses are decoded and checked only after the window.
"""

from __future__ import annotations

import gzip
import http.client
import json
import os
import random
import string
import sys
import threading
import time
import zlib

ENCODINGS = ("deflate", "gzip", "")
#: in traced runs, marks the requests the server side traces
TRACE_HEADER = "X-Perfbench-Trace"


def token_pool(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct tokens over the gateway's three classes: 28-char
    (wx), 36-char dashed uuid, and longer session ids."""
    alnum = string.ascii_letters + string.digits
    pool: set[str] = set()
    while len(pool) < n:
        kind = len(pool) % 3
        if kind == 0:
            tok = "".join(rng.choices(alnum, k=28))
        elif kind == 1:
            h = "".join(rng.choices("0123456789abcdef", k=32))
            tok = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
        else:
            tok = "".join(rng.choices(alnum, k=40))
        pool.add(tok)
    return rng.sample(sorted(pool), n)


class Client:
    def __init__(self, cid: int, spec: dict, packb):
        self.cid = cid
        self.spec = spec
        self.packb = packb
        self.rng = random.Random(f"{spec['seed']}-client-{cid}")
        self.tokens = token_pool(self.rng, spec["tokens_per_client"])
        self.n = 0
        self.seen: dict[str, int] = {}
        self.conn = http.client.HTTPConnection("127.0.0.1", spec["port"], timeout=120)
        self.records: list[dict] = []  # the window's whole cycles
        self.filler: list[dict] = []
        self.w1 = 0.0

    def request(self, kind: list) -> dict:
        mod, fun, sql = kind
        token = self.tokens[self.n % len(self.tokens)]
        self.n += 1
        arg = sql.format(lit=f"{self.rng.uniform(0, 20):.6f}") if sql else None
        enc = self.rng.choice(ENCODINGS)
        body = self.packb({"mod": mod, "fun": fun, "arg": arg, "ctx": {"wxuser": token}})
        headers = {"Content-Type": "application/octet-stream"}
        if enc:
            headers["Accept-Encoding"] = enc
        if self.spec["trace"]:  # every other request of each type is traced
            k = self.seen[fun] = self.seen.get(fun, -1) + 1
            headers[TRACE_HEADER] = str(k % 2)
        t0 = time.monotonic()
        try:
            self.conn.request("POST", "/", body, headers)
            resp = self.conn.getresponse()
            data = resp.read()
            status, encoding = resp.status, resp.getheader("Content-Encoding")
        except (OSError, http.client.HTTPException) as err:
            # a failed op (status 0); the next request reconnects
            self.conn.close()
            data, status, encoding = repr(err).encode(), 0, None
        t1 = time.monotonic()
        return {"type": fun if mod == "query" else f"{mod}.{fun}", "arg": arg,
                "t0": t0, "t1": t1, "status": status, "encoding": encoding, "body": data}

    def cycle(self) -> list:
        mix = self.spec["mix"]
        return self.rng.sample(mix, len(mix))

    def run_cycle(self, out: list) -> None:
        out.extend(self.request(kind) for kind in self.cycle())

    def run_window(self, cycles: int, deadline: float, pending: "Countdown") -> None:
        """Whole cycles into ``records`` until ``cycles`` are done and
        ``deadline`` has passed; then filler requests until every client
        is done."""
        done = 0
        while done < cycles or time.monotonic() < deadline:
            self.run_cycle(self.records)
            done += 1
        self.w1 = self.records[-1]["t1"]
        pending.count_down()
        while not pending.zero.is_set():
            for kind in self.cycle():
                if pending.zero.is_set():
                    break
                self.filler.append(self.request(kind))


class Countdown:
    def __init__(self, n: int):
        self.n = n
        self.lock = threading.Lock()
        self.zero = threading.Event()

    def count_down(self) -> None:
        with self.lock:
            self.n -= 1
            if self.n == 0:
                self.zero.set()


def decode(rec: dict, unpackb):
    body = rec["body"]
    if rec["encoding"] == "deflate":
        body = zlib.decompress(body)
    elif rec["encoding"] == "gzip":
        body = gzip.decompress(body)
    return body, unpackb(body)


def check(rec: dict, unpackb, expect: dict) -> str | None:
    """Shape check of one response against the first response of its type
    (status, columns, row count); ``None`` when it passes."""
    if rec["status"] != 200:
        return f"status {rec['status']}"
    try:
        _, msg = decode(rec, unpackb)
    except Exception as err:  # noqa: BLE001 - any decode failure fails the op
        return f"undecodable: {type(err).__name__}"
    want = expect.get(rec["type"])
    if "tables" in msg:
        shape = ("tables", tuple(msg["tables"]))
    else:
        rows = msg.get("rows")
        if not isinstance(rows, list) or msg.get("n") != len(rows):
            return "n does not match rows"
        if any(len(r) != len(msg["columns"]) for r in rows):
            return "row width does not match columns"
        shape = (tuple(msg["columns"]), msg["n"])
    if want is None:
        expect[rec["type"]] = shape
    elif shape != want:
        return f"shape {shape!r:.120} != first {want!r:.120}"
    return None


def main() -> int:
    spec = json.loads(sys.stdin.readline())
    sys.path.insert(0, spec["root"])
    from hive_gateway_spark.functions.msgpack_codec import packb, unpackb

    print(json.dumps({"ready": True}), flush=True)
    spec.update(json.loads(sys.stdin.readline()))
    clients = [Client(i, spec, packb) for i in range(spec["clients"])]

    def phase(fn):
        """Run ``fn(client)`` for every client at once."""
        threads = [threading.Thread(target=fn, args=(c,)) for c in clients]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # cold: the first request of every type, the types split over the clients
    cold: list = []
    mix, n = spec["mix"], len(clients)
    phase(lambda c: cold.extend(c.request(kind) for kind in mix[c.cid::n]))
    warm: list = []
    costs: list[float] = []  # per warm-up cycle: summed latency of its requests
    for _ in range(spec["warmup_cycles"]):
        cycle: list = []
        phase(lambda c: c.run_cycle(cycle))
        warm.extend(cycle)
        costs.append(sum(r["t1"] - r["t0"] for r in cycle))
    print(json.dumps({"warm": True}), flush=True)
    sys.stdin.readline()  # the server side reads its heap, then lets us go
    w0 = time.monotonic()
    pending = Countdown(len(clients))
    phase(lambda c: c.run_window(spec["window_cycles"], w0 + spec["seconds"], pending))

    expect: dict = {}
    errors = []
    first = {}
    for rec in cold:
        err = check(rec, unpackb, expect)
        if err:
            errors.append(f"cold {rec['type']}: {err}")
        else:
            path = os.path.join(spec["out_dir"], f"first-{len(first)}.msgpack")
            with open(path, "wb") as f:
                f.write(decode(rec, unpackb)[0])
            first[rec["type"]] = {"path": path, "arg": rec["arg"]}
    errors.extend(f"warm-up {r['type']}: {e}" for r in warm if (e := check(r, unpackb, expect)))
    window = []
    for c in clients:
        for in_window, recs in ((True, c.records), (False, c.filler)):
            for rec in recs:
                err = check(rec, unpackb, expect)
                if err:
                    errors.append(f"{rec['type']}: {err}")
                window.append({"type": rec["type"], "t0": rec["t0"], "t1": rec["t1"],
                               "status": rec["status"], "in_window": in_window})
        c.conn.close()
    print(json.dumps({
        "w0": w0, "w1": max(c.w1 for c in clients), "first": first,
        # each client's rate over its own whole cycles, summed
        "ops_per_s": sum(len(c.records) / (c.w1 - w0) for c in clients),
        "sent": len(cold) + len(warm) + len(window), "failed": len(errors),
        "errors": errors[:20],
        "cold": [{"type": r["type"], "s": r["t1"] - r["t0"]} for r in cold],
        "warmup_cycle_s": costs,
        "requests": window,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
