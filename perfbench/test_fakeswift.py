"""The fake Swift endpoint, driven through the real SwiftObjectStore.

    python3 -m pytest perfbench/test_fakeswift.py -q

No Spark session: the store is built in-process the way one upload task
builds it.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(HERE, "fakeswift"), HERE]

from swiftbulkuploader_spark.sources.objectstore import SwiftObjectStore  # noqa: E402

import layers  # noqa: E402


@pytest.fixture
def fake(tmp_path, monkeypatch):
    """A fresh fake client configured by a file under tmp_path; returns a
    function that rewrites the config."""
    conf_path = tmp_path / "swift.json"
    monkeypatch.setenv("PERFBENCH_SWIFT_CONFIG", str(conf_path))
    root, trace = tmp_path / "store", tmp_path / "trace"
    trace.mkdir()

    def configure(**conf):
        conf.setdefault("root", str(root))
        conf.setdefault("trace_dir", str(trace))
        conf_path.write_text(json.dumps(conf))
        import swiftclient.client as client

        return importlib.reload(client)

    configure.root, configure.trace = root, trace
    return configure


def _store():
    return SwiftObjectStore(auth_url="fake://swift/auth/v3", username="bench:user",
                            password="bench", container="c1")


def test_put_lands_bytes_and_records_span(fake):
    client = fake()
    store = _store()
    store.put("d01/s00/scan-f000001.tif", b"\x00\x01payload")
    with open(fake.root / "c1" / "d01" / "s00" / "scan-f000001.tif", "rb") as fh:
        assert fh.read() == b"\x00\x01payload"
    assert store.exists("d01/s00/scan-f000001.tif")
    assert store.get("d01/s00/scan-f000001.tif") == b"\x00\x01payload"
    spans = layers.read_store_spans(str(fake.trace))
    assert [s["k"] for s in spans] == ["auth", "container", "put"]
    put = spans[-1]
    assert (put["key"], put["bytes"], put["status"]) == ("d01/s00/scan-f000001.tif", 9, 201)
    assert put["task"] == spans[1]["task"] == 1
    assert client.read_counters(str(fake.root))["put_ok"] == 1
    figures = layers.store_layer(spans)
    assert (figures["upload.tasks"], figures["store.puts"], figures["store.auths"]) == (1, 1, 1)


def test_expired_token_is_refreshed_by_the_store(fake):
    client = fake(token_puts=2)
    store = _store()
    for i in range(5):
        store.put(f"k{i}", b"x")
    counts = client.read_counters(str(fake.root))
    # two PUTs per token: 5 PUTs need 3 tokens, each refresh after one 401
    assert (counts["put_ok"], counts["put_401"], counts["auths"]) == (5, 2, 3)
    assert sorted(os.listdir(fake.root / "c1")) == [f"k{i}" for i in range(5)]


def test_failing_keys_are_seeded_and_transient(fake):
    client = fake(fail_seed=7, fail_rate=0.5)
    store = _store()
    keys = [f"obj{i:03d}" for i in range(40)]
    failed = []
    for key in keys:
        try:
            store.put(key, b"v")
        except client.ClientException as e:
            assert e.http_status == 503
            failed.append(key)
            store.put(key, b"v")  # the second PUT of a failing key succeeds
    assert 5 < len(failed) < 35
    # the same seed picks the same keys in another container
    fake(fail_seed=7, fail_rate=0.5)
    other = SwiftObjectStore(auth_url="a", username="u", password="p", container="c2")
    again = []
    for key in keys:
        try:
            other.put(key, b"v")
        except Exception:  # noqa: BLE001
            again.append(key)
    assert again == failed
