"""Benchmark-owned Firebase Realtime Database REST stub.

One process serving a seeded JSON tree over HTTP on localhost, with the
wire surface the engine's ``HttpFirebase`` client speaks:

- ``GET /<path>.json?shallow=true``                      child listing
- ``GET /<path>.json?orderBy="$key"&limitToFirst=N&startAt="k"``  key page
- ``PATCH /<path>.json``                                 merge update

Limits, shaped like the real service's but scaled down to the seeded
tree (perfbench/README.md says how they were sized):

- a read whose JSON body exceeds ``READ_BUDGET`` bytes is answered
  with ``{"error": "Payload is too large"}`` (the refusal the
  extractor's AIMD page sizing reacts to);
- a PATCH body over ``WRITE_LIMIT`` bytes is refused with HTTP 413
  (the failure the writeback's split-on-failure reacts to).

Requests run on a fixed pool of one worker thread per usable core.
Every node keeps a sorted key index, built on first use and dropped on
write, so a page costs a bisect plus the page's own keys.

Control calls (``POST /__control/<cmd>``) drive the benchmark:
``stats`` (request counters; ``?reset=1`` zeroes them), ``mutate``
(seeded ~1 % edit of ``/users``, returns the expected delta counts),
``wipe``, ``reset`` (back to the seeded tree), ``verify`` (is the live
tree equal to the tree as of the last mutate/reset?) and ``shutdown``.

Start: ``python3 perfbench/stub_firebase.py --seed 7 --users 2000``.
The first stdout line is ``{"port": ..., "source_bytes": ...}``.
"""

from __future__ import annotations

import argparse
import bisect
import copy
import json
import os
import random
import sys
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

PAYLOAD_ERROR = b'{"error":"Payload is too large"}'

#: Limits.  A full page of 1000 users (the extractor's and the
#: writeback's largest page, ~216 KB) fits both, so only ``records`` and
#: ``blobs/big`` meet them.  A ``blobs/big`` child is over the write
#: limit, but two of them fit the read budget (the extractor's smallest
#: page is two keys), so the child is read as one row and must be split
#: on write.
READ_BUDGET = 640_000
WRITE_LIMIT = 256_000
THREADS = len(os.sched_getaffinity(0))

#: Shape of the seeded tree (besides the user count, which is a flag).
N_RECORDS = 40           # large-record subtree, 800 KB: over the read budget
RECORD_BYTES = 20_000
BIG_CHILDREN = 3         # the one record bigger than the read budget
BIG_CHILD_PARTS = 3      # each child (300 KB) is over the write limit
BIG_PART_BYTES = 100_000
CHAIN_DEPTH = 60


def _text(rng: random.Random, n: int) -> str:
    alphabet = "abcdefghijklmnopqrstuvwxyz     "
    return "".join(rng.choices(alphabet, k=n))


def _user(rng: random.Random) -> dict:
    return {
        "name": _text(rng, rng.randint(8, 20)).strip() or "anon",
        "email": f"user{rng.randrange(10**9)}@example.com",
        "age": rng.randint(16, 90),
        "score": round(rng.uniform(0, 1000), 2),
        "active": rng.random() < 0.7,
        "tags": {f"t{rng.randrange(50)}": True for _ in range(rng.randint(0, 4))},
        "bio": _text(rng, rng.randint(10, 60)),
    }


def _push_id(rng: random.Random) -> str:
    alphabet = "-0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ_abcdefghijklmnopqrstuvwxyz"
    return "-" + "".join(rng.choices(alphabet, k=19))


def make_tree(seed: int, users: int) -> dict:
    """The seeded source database:

    - ``users``: a wide subtree of small records under push-id keys;
    - ``records``: records of 20 KB each, so full key pages exceed the
      read budget and full PATCH batches the write limit;
    - ``blobs/big``: one record over the read budget (extract must go
      deeper) whose children each exceed the write limit (restore must
      split them);
    - ``chain``: a 60-deep nested chain;
    - scalar leaves at the root.
    """
    rng = random.Random(seed)
    tree: dict = {"users": {}}
    while len(tree["users"]) < users:
        tree["users"][_push_id(rng)] = _user(rng)
    tree["records"] = {
        f"r{i:04d}": {"payload": _text(rng, RECORD_BYTES), "rev": i}
        for i in range(N_RECORDS)
    }
    tree["blobs"] = {
        "big": {
            f"c{i}": {
                f"p{j}": _text(rng, BIG_PART_BYTES) for j in range(BIG_CHILD_PARTS)
            }
            for i in range(BIG_CHILDREN)
        },
        "small": {"note": "fits anywhere"},
    }
    chain: dict = {"leaf": "bottom"}
    for level in range(CHAIN_DEPTH, 0, -1):
        chain = {"n": chain, "level": level}
    tree["chain"] = chain
    tree["schema_version"] = 3
    tree["owner"] = "perfbench"
    tree["enabled"] = True
    tree["ratio"] = 0.25
    return tree


def mutate_users(tree: dict, seed: int, frac: float) -> dict:
    """Seeded edit of ``frac`` of ``/users``: a third of the touched
    records change one field, a third are removed, and as many new
    records are added.  One user record is one tree row, so the counts
    returned are exactly the expected ``incremental_backup`` counts."""
    rng = random.Random(seed)
    users = tree["users"]
    keys = sorted(users)
    n = max(3, int(len(keys) * frac))
    touched = rng.sample(keys, n)
    third = n // 3
    changed, removed = touched[:third], touched[third : 2 * third]
    for k in changed:
        users[k]["score"] = round(users[k]["score"] + 1.5, 2)
    for k in removed:
        del users[k]
    added = 0
    while added < third:
        k = _push_id(rng)
        if k not in users:
            users[k] = _user(rng)
            added += 1
    return {"added": added, "removed": len(removed), "changed": len(changed)}


def canonical(value) -> str:
    return json.dumps(value, sort_keys=True, separators=(",", ":"))


class Store:
    """The live tree, its sorted key indexes and the request counters;
    every access holds one lock (requests are short and the counters
    must not lose updates)."""

    def __init__(self, seed: int, users: int) -> None:
        self.base = make_tree(seed, users)
        self.source_bytes = len(canonical(self.base))
        self.lock = threading.Lock()
        self.tree: dict = copy.deepcopy(self.base)
        self.expected = canonical(self.tree)
        self.index: dict[str, list[str]] = {}
        self.reset_stats()

    def reset_stats(self) -> None:
        self.stats = {
            "page_requests": 0, "page_refusals": 0, "shallow_requests": 0,
            "other_gets": 0, "served_bytes": 0, "patch_requests": 0,
            "patch_refusals": 0, "patch_bytes": 0, "busy_s": 0.0,
            "last_page_at": 0.0,
        }

    def node(self, path: tuple[str, ...]):
        node = self.tree
        for seg in path:
            if not isinstance(node, dict) or seg not in node:
                return None
            node = node[seg]
        return node

    def sorted_keys(self, path: tuple[str, ...], node: dict) -> list[str]:
        key = "/".join(path)
        keys = self.index.get(key)
        if keys is None:
            keys = self.index[key] = sorted(node)
        return keys

    def get(self, path: tuple[str, ...], q: dict[str, str]) -> bytes:
        node = self.node(path)
        st = self.stats
        if q.get("shallow") == "true":
            st["shallow_requests"] += 1
            if isinstance(node, dict):
                body = json.dumps({k: True for k in node}).encode()
            else:
                body = json.dumps(node).encode()
            st["served_bytes"] += len(body)
            return body
        if not isinstance(node, dict) or q.get("orderBy") != '"$key"':
            st["other_gets"] += 1
            body = json.dumps(node).encode()
        else:
            st["page_requests"] += 1
            keys = self.sorted_keys(path, node)
            lo = 0
            if "startAt" in q:
                lo = bisect.bisect_left(keys, json.loads(q["startAt"]))
            hi = len(keys)
            if "limitToFirst" in q:
                hi = min(hi, lo + int(q["limitToFirst"]))
            body = json.dumps({k: node[k] for k in keys[lo:hi]}).encode()
        if len(body) > READ_BUDGET:
            st["page_refusals"] += 1
            return PAYLOAD_ERROR
        st["served_bytes"] += len(body)
        st["last_page_at"] = time.time()
        return body

    def patch(self, path: tuple[str, ...], body: bytes) -> bool:
        st = self.stats
        st["patch_requests"] += 1
        if len(body) > WRITE_LIMIT:
            st["patch_refusals"] += 1
            return False
        st["patch_bytes"] += len(body)
        node = self.tree
        for seg in path:
            nxt = node.get(seg)
            if not isinstance(nxt, dict):
                nxt = node[seg] = {}
            node = nxt
        node.update(json.loads(body))
        self.index.clear()
        return True

    def control(self, cmd: str, q: dict[str, str]) -> dict:
        if cmd == "stats":
            out = dict(self.stats)
            if q.get("reset") == "1":
                self.reset_stats()
            return out
        if cmd == "mutate":
            counts = mutate_users(self.tree, int(q["seed"]), float(q["frac"]))
            self.index.clear()
            self.expected = canonical(self.tree)
            return counts
        if cmd == "wipe":
            self.tree = {}
            self.index.clear()
            return {}
        if cmd == "reset":
            self.tree = copy.deepcopy(self.base)
            self.index.clear()
            self.expected = canonical(self.tree)
            return {}
        if cmd == "verify":
            live = canonical(self.tree)
            return {
                "equal": live == self.expected,
                "live_bytes": len(live),
                "expected_bytes": len(self.expected),
            }
        raise KeyError(cmd)


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int, store: Store) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.store = store

    def process_request(self, request, client_address):
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — a broken client must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class Handler(BaseHTTPRequestHandler):
    server: PooledHTTPServer

    def log_message(self, fmt, *args):  # keep stdout/stderr quiet
        pass

    def _split(self) -> tuple[tuple[str, ...], dict[str, str]]:
        url = urllib.parse.urlsplit(self.path)
        q = dict(urllib.parse.parse_qsl(url.query))
        raw = url.path
        if raw.endswith(".json"):
            raw = raw[: -len(".json")]
        segs = tuple(urllib.parse.unquote(s) for s in raw.split("/") if s)
        return segs, q

    def _reply(self, code: int, body: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        path, q = self._split()
        store = self.server.store
        t0 = time.perf_counter()
        with store.lock:
            body = store.get(path, q)
            store.stats["busy_s"] += time.perf_counter() - t0
        self._reply(200, body)

    def do_PATCH(self):
        path, _ = self._split()
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        store = self.server.store
        t0 = time.perf_counter()
        with store.lock:
            ok = store.patch(path, body)
            store.stats["busy_s"] += time.perf_counter() - t0
        self._reply(200 if ok else 413, b"null" if ok else PAYLOAD_ERROR)

    def do_POST(self):
        path, q = self._split()
        if len(path) != 2 or path[0] != "__control":
            self._reply(404, b'{"error":"not found"}')
            return
        if path[1] == "shutdown":
            self._reply(200, b"{}")
            threading.Thread(target=self.server.shutdown, daemon=True).start()
            return
        store = self.server.store
        with store.lock:
            out = store.control(path[1], q)
        self._reply(200, json.dumps(out).encode())


def main() -> None:
    ap = argparse.ArgumentParser(description="Firebase REST stub")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    a = ap.parse_args()
    store = Store(a.seed, a.users)
    server = PooledHTTPServer(("127.0.0.1", 0), Handler, THREADS, store)
    print(json.dumps({"port": server.server_address[1],
                      "source_bytes": store.source_bytes}), flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()
    sys.exit(0)


if __name__ == "__main__":
    main()
