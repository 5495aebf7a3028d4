"""A fake Swift endpoint behind the `swiftclient.client` call shapes.

`SwiftObjectStore` imports this module exactly as it would import the real
client, so its auth, `put_container`, `put_object` and 401-refresh code runs
unchanged. The call shapes are those pinned by tests/test_swift_contract.py:

    get_auth(auth_url, username, password, auth_version="3") -> (url, token)
    put_container(url, token, container)
    put_object(url, token, container, key, data)
    head_object(url, token, container, key)
    get_object(url, token, container, key) -> (headers, body)

Objects are files under `<root>/<container>/<key>`, written atomically.
Behaviour comes from the JSON file named by $PERFBENCH_SWIFT_CONFIG, read at
every `get_auth`, so one Spark session can switch it between runs:

    root         directory that holds the containers
    latency_ms   fixed delay added to every PUT
    mb_per_s     per-connection bandwidth cap for PUT bodies (0 = none)
    fail_seed    seed of the failing-key choice
    fail_rate    share of keys whose first PUT returns 503 (later PUTs succeed)
    token_puts   PUTs a token allows before it expires with a 401 (0 = never)
    trace_dir    when set, one JSON line per auth, container and PUT call is
                 appended to `<trace_dir>/spans-<pid>.jsonl` as the call
                 ends (Spark ends its Python workers without an exit hook,
                 so spans cannot wait in memory for the end of the run)

Failing keys are a pure function of (fail_seed, key), so every container
fails the same keys; the one failure of each container/key is claimed with
an O_EXCL marker file, so it happens exactly once even when tasks race. Spans
carry the process id and a per-process task number that `put_container`
advances: the store calls it once per construction, i.e. once per Spark
task.

Whether or not spans are on, each process keeps running totals in
`<root>/.counts/<pid>-<start ns>` (see COUNTERS), rewritten in place after every call,
so a reader can sum them over processes between two runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

COUNTERS = ("put_ok", "put_503", "put_401", "bytes_ok", "auths")
_STATE = {"conf": None, "auths": 0, "task": 0, "token_puts": {}, "fd": None,
          "counts": dict.fromkeys(COUNTERS, 0)}


class ClientException(Exception):
    def __init__(self, msg: str, http_status: int | None = None):
        super().__init__(msg)
        self.http_status = http_status


def _conf() -> dict:
    if _STATE["conf"] is None:
        _load()
    return _STATE["conf"]


def _load() -> None:
    with open(os.environ["PERFBENCH_SWIFT_CONFIG"]) as fh:
        _STATE["conf"] = json.load(fh)


def _count(**deltas) -> None:
    counts = _STATE["counts"]
    for name, n in deltas.items():
        counts[name] += n
    if _STATE["fd"] is None:
        d = os.path.join(_conf()["root"], ".counts")
        os.makedirs(d, exist_ok=True)
        name = f"{os.getpid()}-{time.time_ns()}"
        _STATE["fd"] = os.open(os.path.join(d, name), os.O_CREAT | os.O_WRONLY)
    line = " ".join(str(counts[c]) for c in COUNTERS).ljust(120) + "\n"
    os.pwrite(_STATE["fd"], line.encode(), 0)


def read_counters(root: str) -> dict[str, int]:
    """Totals over every process that has used the store under `root`."""
    total = dict.fromkeys(COUNTERS, 0)
    d = os.path.join(root, ".counts")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        with open(os.path.join(d, name)) as fh:
            fields = fh.read().split()
        for c, v in zip(COUNTERS, fields):
            total[c] += int(v)
    return total


def _span(kind: str, t0: float, **fields) -> None:
    trace_dir = _conf().get("trace_dir")
    if not trace_dir:
        return
    rec = {"k": kind, "t0": t0, "t1": time.time(), "pid": os.getpid(),
           "task": _STATE["task"], **fields}
    with open(os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def _path(container: str, key: str) -> str:
    parts = key.split("/")
    if not key or key.startswith("/") or ".." in parts:
        raise ClientException(f"bad object name {key!r}", http_status=400)
    return os.path.join(_conf()["root"], container, *parts)


def _fails(container: str, key: str) -> bool:
    """True on the first PUT of a failing key into `container`."""
    conf = _conf()
    rate = conf.get("fail_rate", 0.0)
    if not rate:
        return False
    digest = hashlib.sha1(f"{conf.get('fail_seed', 0)}:{key}".encode()).digest()
    if int.from_bytes(digest[:8], "big") / 2.0**64 >= rate:
        return False
    marks = os.path.join(conf["root"], ".failures")
    os.makedirs(marks, exist_ok=True)
    tag = hashlib.sha1(f"{container}/{key}".encode()).hexdigest()
    try:
        os.close(os.open(os.path.join(marks, tag), os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        return False
    return True


def get_auth(auth_url, username, password, auth_version=None):
    t0 = time.time()
    _load()
    _STATE["auths"] += 1
    token = f"tok-{os.getpid()}-{_STATE['auths']}"
    _STATE["token_puts"] = {token: 0}
    _count(auths=1)
    _span("auth", t0)
    return "fake://swift/v1/AUTH_bench", token


def put_container(url, token, container):
    t0 = time.time()
    _STATE["task"] += 1
    os.makedirs(os.path.join(_conf()["root"], container), exist_ok=True)
    _span("container", t0)


def put_object(url, token, container, key, data):
    t0 = time.time()
    conf = _conf()
    limit = conf.get("token_puts", 0)
    used = _STATE["token_puts"].get(token)
    if used is None or (limit and used >= limit):
        _count(put_401=1)
        _span("put", t0, key=key, bytes=len(data), status=401)
        raise ClientException("token expired", http_status=401)
    _STATE["token_puts"][token] = used + 1
    delay = conf.get("latency_ms", 0) / 1000.0
    if conf.get("mb_per_s"):
        delay += len(data) / (conf["mb_per_s"] * 1e6)
    if delay:
        time.sleep(delay)
    if _fails(container, key):
        _count(put_503=1)
        _span("put", t0, key=key, bytes=len(data), status=503)
        raise ClientException("service unavailable", http_status=503)
    path = _path(container, key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)
    _count(put_ok=1, bytes_ok=len(data))
    _span("put", t0, key=key, bytes=len(data), status=201)


def head_object(url, token, container, key):
    path = _path(container, key)
    if not os.path.isfile(path):
        raise ClientException("not found", http_status=404)
    return {"content-length": str(os.path.getsize(path))}


def get_object(url, token, container, key):
    path = _path(container, key)
    if not os.path.isfile(path):
        raise ClientException("not found", http_status=404)
    with open(path, "rb") as fh:
        body = fh.read()
    return {"content-length": str(len(body))}, body
