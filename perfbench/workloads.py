"""The four workloads. Each builds its inputs from the seed, warms its path
once, and then runs timed reps; every rep is checked after its clock stops.

A rep returns a `Rep`: the timed walls, the operations it attempted and
how many failed, the workload's own end-to-end figures, and (traced reps
only) the per-layer figures.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import layers
import trees

# One query per family of bench.py's HEADLINE list (the pipeline families
# a, q, s, u and w form one stratum), drawn with random.Random(20261017),
# one rng.choice per family in family order, from the family's names that
# have a DuckDB oracle, so every result is checked. Frozen: a name that
# leaves registry.QUERIES is a failed operation, never a skip.
QUERY_POOL = (
    "x1_longest_shared_span", "x2_bq_topk", "x3_pmi_cooccurrence",
    "x4_json_array_stats", "x5_grouping_sets", "x6_poisson_bootstrap",
    "x7_theil_sen", "x8_lpa_modularity", "x9_wav_spectral",
    "x10_dataset_diff", "w7_time_range_frame",
)
# The read -> plan -> execute -> noop path, warmed with a name outside the pool.
QUERY_WARMUP = ("a7_progress_pct",)
# The project's sf0.01 test tables (TESTDATA.md: seed 42, lineitem ~60k rows),
# the set its DuckDB-oracle checks run on, copied in unchanged.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")

# Source mtime (ns) of every file that exists before the first upload.
T_BASE = int(np.datetime64("2024-06-01T00:00:00", "ns").astype(int))

UPLOADED_RE = re.compile(r"^uploaded=(\d+) failed=(\d+) total=(\d+)$", re.M)
STATUS_RE = re.compile(r"^uploaded=(\d+) failed=(\d+) pending=(\d+)$", re.M)


@dataclass
class Rep:
    run_s: float
    main_s: float
    attempted: int
    failed: int
    correct: bool = True
    traced: bool = False
    extra: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: layers.Tracer
    swift_config: str
    store_root: str

    def configure_store(self, **conf) -> None:
        conf["root"] = self.store_root
        with open(self.swift_config, "w") as fh:
            json.dump(conf, fh)


def run_cli(argv: list[str]) -> tuple[object, str, float]:
    """cli.main in-process; returns (exit code or the exception, stdout, wall)."""
    from swiftbulkuploader_spark import cli

    out = io.StringIO()
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(out):
            rc = cli.main(argv)
    except Exception as e:  # noqa: BLE001 - a raising command is a failed rep
        rc = e
    return rc, out.getvalue(), time.perf_counter() - t0


def read_attempts(path: str):
    """The attempt log as pandas (id, key, ts, try_no, ok), or None."""
    if not os.path.isdir(path):
        return None
    df = pq.read_table(path, columns=["id", "key", "ts", "try_no", "ok"]).to_pandas()
    if getattr(df["ts"].dt, "tz", None) is not None:
        df["ts"] = df["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def read_manifest(path: str) -> list[tuple[int, str]]:
    df = pq.read_table(path, columns=["id", "path", "error"]).to_pandas()
    df = df[df["error"].isna()]
    return list(zip(df["id"].tolist(), df["path"].tolist()))


class UploadWorkload:
    """index -> `upload ... swift:<container>` -> `status`, over a tree."""

    index_cmd = "prepare"
    segment_size = 0
    alternate = True  # traced runs alternate untraced and traced reps
    store_conf: dict = {}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.n_rep = 0

    # -- inputs -----------------------------------------------------------
    def build(self) -> None:
        self.tree = os.path.join(self.ctx.work, "main", trees.CUTOFF)
        self.warm_tree = os.path.join(self.ctx.work, "warm", trees.CUTOFF)
        self.make_tree(self.tree, self.warm_tree)

    def make_tree(self, tree: str, warm_tree: str) -> None:
        raise NotImplementedError

    def warm(self) -> dict:
        self.ctx.configure_store(**self.store_conf)
        return self.rep(traced=False, tree=self.warm_tree, check=False).extra

    # -- one rep ----------------------------------------------------------
    def fresh_state(self, rep_dir: str) -> tuple[str, str]:
        """(manifest path, attempts path) for a new rep."""
        return os.path.join(rep_dir, "manifest"), os.path.join(rep_dir, "attempts")

    def rep(self, traced: bool, tree: str | None = None, check: bool = True) -> Rep:
        ctx = self.ctx
        tree = tree or self.tree
        self.n_rep += 1
        rep_dir = os.path.join(ctx.work, f"rep{self.n_rep}")
        os.makedirs(rep_dir, exist_ok=True)
        container = f"bench{self.n_rep}"
        manifest, attempts = self.fresh_state(rep_dir)
        self.restore_store(container)
        trace_dir = os.path.join(rep_dir, "trace")
        conf = dict(self.store_conf)
        if traced:
            os.makedirs(trace_dir)
            conf["trace_dir"] = trace_dir
        ctx.configure_store(**conf)
        counters0 = _counters(ctx.store_root)
        upload_argv = ["upload", manifest, f"swift:{container}", attempts,
                       "--cutoff", trees.CUTOFF]
        if self.segment_size:
            upload_argv += ["--segment-size", str(self.segment_size)]

        ctx.tracer.on = traced
        rc_index, _, t_index = run_cli([self.index_cmd, tree, manifest])
        ctx.tracer.on = False
        resume = self.measure_resume(manifest, attempts)
        ctx.tracer.on = traced
        t_start = np.datetime64(time.time_ns() // 1000, "us")
        rc_up, out_up, t_up = run_cli(upload_argv)
        rc_st, out_st, t_st = run_cli(["status", manifest, attempts])
        ctx.tracer.on = False
        spans = ctx.tracer.take()

        rep = Rep(run_s=t_index + t_up + t_st, main_s=t_up, attempted=0, failed=0,
                  traced=traced)
        rep.extra.update({"index_s": t_index, "upload_s": t_up, "status_s": t_st})
        if not check:
            self.cleanup(rep_dir, container)
            return rep
        self.check(rep, manifest, attempts, container, t_start,
                   (rc_index, rc_up, rc_st), out_up, out_st, counters0)
        if traced:
            rep.layers = self.layer_metrics(spans, trace_dir, resume, rep)
            rep.spans = layers.span_table(spans)
        self.cleanup(rep_dir, container)
        return rep

    def restore_store(self, container: str) -> None:
        pass

    def cleanup(self, rep_dir: str, container: str) -> None:
        shutil.rmtree(rep_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(self.ctx.store_root, container), ignore_errors=True)
        shutil.rmtree(os.path.join(self.ctx.store_root, ".failures"), ignore_errors=True)

    def measure_resume(self, manifest: str, attempts: str) -> dict:
        """The resume anti-join on its own, untimed. Every rep runs it, so
        traced and untraced uploads start from the same warm state."""
        from pyspark.sql import functions as F

        from swiftbulkuploader_spark.plans.upload import pending_work

        spark = self.ctx.spark
        man = spark.read.parquet(manifest).filter(F.col("error").isNull())
        prior = spark.read.parquet(attempts) if os.path.isdir(attempts) else None
        t0 = time.perf_counter()
        n = pending_work(man, prior).count()
        join_s = time.perf_counter() - t0
        files = ([f for f in os.listdir(attempts) if f.endswith(".parquet")]
                 if prior is not None else [])
        return {"resume.join_s": join_s, "resume.pending": n,
                "resume.log_rows": prior.count() if prior is not None else 0,
                "resume.log_files": len(files)}

    # -- checks -----------------------------------------------------------
    def check(self, rep: Rep, manifest, attempts, container, t_start, rcs, out_up, out_st,
              counters0) -> None:
        """Every manifest file's bytes in the store, set against what the
        CLI says. A file fails when its bytes are not all there; each file
        that landed but that `upload`'s or `status`'s `uploaded=` count
        leaves out fails too, and so does each command whose exit code
        disagrees with the store. A command that raised or printed no
        count fails every file. A stored object with wrong bytes makes the
        run incorrect."""
        container_dir = os.path.join(self.ctx.store_root, container)
        files = read_manifest(manifest) if os.path.isdir(manifest) else []
        states = {fid: trees.state(container_dir, path) for fid, path in files}
        missing = {fid for fid, s in states.items() if s != "ok"}
        n_ok = len(files) - len(missing)
        up, st = UPLOADED_RE.search(out_up), STATUS_RE.search(out_st)
        said_up = int(up.group(1)) if up else 0
        said_st = int(st.group(1)) if st else 0
        want_rcs = (0, 0 if not missing else 1, 0)
        bad_rcs = sum(rc != want for rc, want in zip(rcs, want_rcs))
        rep.attempted = max(len(files), 1)
        if not files or up is None or st is None or any(isinstance(rc, Exception) for rc in rcs):
            rep.failed = rep.attempted
        else:
            left_out = max(0, n_ok - said_up) + max(0, n_ok - said_st)
            rep.failed = min(rep.attempted, len(missing) + left_out + bad_rcs)
        rep.correct = "corrupt" not in states.values()
        log = read_attempts(attempts)
        n_new = distinct = ok_new = 0
        if log is not None:
            new = log[log["ts"] >= t_start]
            n_new, ok_new = len(new), int(new["ok"].sum())
            distinct = len(new.drop_duplicates(["id", "key"]))
        rep.extra.update({
            "files": len(files),
            "bytes_landed": sum(os.path.getsize(p) for fid, p in files if fid not in missing),
            # files `upload` calls uploaded beyond those whose bytes are all stored
            "misreported": max(0, said_up - n_ok),
            "status_misreported": max(0, said_st - n_ok),
            "cli_lines": [m.group(0) if m else None for m in (up, st)],
            "cli_exit": [rc if isinstance(rc, int) else type(rc).__name__ for rc in rcs],
            "bad_exit": bad_rcs,
            "attempts": n_new,
            "retries": n_new - distinct,
            "ok_attempts": ok_new,
            "store_counters": {k: v - counters0[k]
                               for k, v in _counters(self.ctx.store_root).items()},
        })

    def layer_metrics(self, spans, trace_dir, resume, rep: Rep) -> dict:
        out = dict(resume)
        index = layers.first(spans, self.index_cmd)
        write_m = layers.first(spans, "manifest_write")
        write_s = write_m["s"] if write_m else 0.0
        if index:
            out["ingest.walk_s"] = index["s"] - write_s
        out["ingest.manifest_write_s"] = write_s
        out["ingest.files"] = rep.extra["files"]
        store = layers.store_layer(layers.read_store_spans(trace_dir))
        window = store.pop("upload.task_window_s")
        out.update(store)
        up = layers.first(spans, "upload")
        write_a = layers.first(spans, "write:attempts")
        if write_a:
            out["upload.write_s"] = write_a["s"]
            out["upload.append_s"] = max(write_a["s"] - window, 0.0)
        if up and write_a:
            out["report.s"] = up["t1"] - write_a["t1"]
        st = layers.first(spans, "status")
        if st:
            out["status.s"] = st["s"]
        out["upload.attempts"] = rep.extra["attempts"]
        out["upload.retries"] = rep.extra["retries"]
        out["upload.ok_ratio"] = (rep.extra["ok_attempts"] / rep.extra["attempts"]
                                  if rep.extra["attempts"] else 0.0)
        out["upload.misreported"] = rep.extra["misreported"]
        return out


def _counters(root: str) -> dict[str, int]:
    from swiftclient.client import read_counters

    return read_counters(root)


class UploadSmall(UploadWorkload):
    """Tens of thousands of 0-4 KiB files, zero-latency sink, no faults."""

    N, WARM_N = 20000, 400

    def make_tree(self, tree, warm_tree):
        trees.build(tree, self.rng, trees.small_sizes(self.rng, self.N), (20, 10), T_BASE)
        trees.build(warm_tree, self.rng, trees.small_sizes(self.rng, self.WARM_N), (4, 2), T_BASE)


class UploadRemote(UploadWorkload):
    """Heavy-tailed sizes, segmented above 8 MiB, 20 ms per PUT, 100 MB/s per
    connection, a transient 503 on ~1% of keys and tokens that expire."""

    N, WARM_N = 500, 120
    BIG_MIB = (12, 20, 28)
    segment_size = 8 * 2**20

    def __init__(self, ctx):
        super().__init__(ctx)
        self.store_conf = {"latency_ms": 20, "mb_per_s": 100, "fail_seed": ctx.seed,
                           "fail_rate": 0.01, "token_puts": 50}

    def make_tree(self, tree, warm_tree):
        trees.build(tree, self.rng, trees.remote_sizes(self.rng, self.N, self.BIG_MIB),
                    (10, 5), T_BASE)
        trees.build(warm_tree, self.rng, trees.remote_sizes(self.rng, self.WARM_N, (10,)),
                    (3, 2), T_BASE)


class ResumeDirty(UploadWorkload):
    """`recrawl` + resume over a restored state of 3000 files: 90% uploaded
    by an earlier `upload` whose attempt log is 24 files, 5% modified since,
    5% new; a transient 503 on ~2% of keys and tokens that expire."""

    index_cmd = "recrawl"
    N, LOG_FILES = 3000, 24

    def __init__(self, ctx):
        super().__init__(ctx)
        self.store_conf = {"fail_seed": ctx.seed, "fail_rate": 0.02, "token_puts": 50}
        self.snap = os.path.join(ctx.work, "snapshot")

    def make_tree(self, tree, warm_tree):
        n_mod = self.n_new = self.N // 20
        n_base = self.N - self.n_new
        self.base = trees.build(tree, self.rng, trees.small_sizes(self.rng, n_base), (20, 10),
                                T_BASE)
        self.modified = sorted(self.rng.choice(n_base, n_mod, replace=False).tolist())

    def warm(self) -> dict:
        """The earlier run, through the CLI: prepare, upload and status over
        the base tree, which is also this path's warm-up; the manifest, the
        attempt log and the container it leaves are the snapshot each rep
        restores. Then the tree moves on: files rewritten (new inode, so the
        stored objects keep the old bytes) with an mtime after that upload,
        and new files."""
        self.ctx.configure_store(**self.store_conf)
        manifest = os.path.join(self.snap, "manifest")
        attempts = os.path.join(self.snap, "attempts")
        steps = [["prepare", self.tree, manifest],
                 ["upload", manifest, "swift:snapshot", attempts,
                  "--cutoff", trees.CUTOFF, "--parallelism", str(self.LOG_FILES)],
                 ["status", manifest, attempts]]
        walls = {}
        for argv in steps:
            rc, out, walls[f"{argv[0]}_s"] = run_cli(argv)
            if rc != 0:
                raise RuntimeError(f"set-up step {argv[0]} failed: {rc} {out}")
        # after every attempt row of that upload and before any rep: a rep's
        # own successes then postdate the change, as a user's next run does
        later = (time.time_ns() // 10**6 + 1) * 10**6
        time.sleep(0.002)
        for i in self.modified:
            path = self.base[i]
            with open(path + ".new", "wb") as fh:
                fh.write(self.rng.bytes(int(self.rng.integers(0, 4097))))
            os.replace(path + ".new", path)
            os.utime(path, ns=(later, later))
        trees.build(self.tree, self.rng, trees.small_sizes(self.rng, self.n_new), (20, 10),
                    later, tag="n")
        shutil.rmtree(os.path.join(self.ctx.store_root, ".failures"), ignore_errors=True)
        return walls

    def fresh_state(self, rep_dir):
        manifest, attempts = super().fresh_state(rep_dir)
        shutil.copytree(os.path.join(self.snap, "manifest"), manifest)
        shutil.copytree(os.path.join(self.snap, "attempts"), attempts)
        return manifest, attempts

    def restore_store(self, container):
        shutil.copytree(os.path.join(self.ctx.store_root, "snapshot"),
                        os.path.join(self.ctx.store_root, container), copy_function=os.link)

    def check(self, rep, manifest, attempts, container, t_start, rcs, out_up, out_st,
              counters0):
        super().check(rep, manifest, attempts, container, t_start, rcs, out_up, out_st,
                      counters0)
        # every PUT the fake stored or refused with a 503 is a modified or
        # new file, or a retry of one (401s are the store's own re-auth)
        c = rep.extra["store_counters"]
        want = len(self.modified) + self.n_new
        extra_puts = abs(c["put_ok"] - want) + abs(c["put_503"] - rep.extra["retries"])
        rep.extra["put_identity"] = {"put_ok": c["put_ok"], "put_503": c["put_503"],
                                     "modified": len(self.modified), "new": self.n_new,
                                     "retries": rep.extra["retries"]}
        if extra_puts:
            rep.failed = min(rep.attempted, rep.failed + extra_puts)


class QueryMix:
    """The frozen pool, cold: each rep reads a fresh copy of the tables
    and starts with every session memo and persisted frame dropped.

    Set-up warms only the generic path, so the first rep meets the pool as
    a fresh session does: plan build, codegen and the first execution of
    every query; later reps, if `--seconds` asks for them, run JIT-warm.
    The main step is one query, as the mean over the pool: the median
    query alone swings with whichever query lands in the middle. Tracing
    here is only the job-group probe, so a traced run times the probe
    calls themselves as its overhead instead of alternating with untraced
    reps, which would compare a cold rep with a warm one."""

    alternate = False

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.order = list(QUERY_POOL)
        np.random.default_rng(ctx.seed).shuffle(self.order)
        self.n_rep = 0
        self.checked = False

    def build(self) -> None:
        self.src = TABLES

    def fresh_copy(self) -> str:
        self.n_rep += 1
        d = os.path.join(self.ctx.work, f"sf{self.n_rep}")
        shutil.copytree(self.src, d)
        return d

    def warm(self) -> dict:
        from swiftbulkuploader_spark import registry

        self.oracle = _duckdb(self.src)
        d = self.fresh_copy()
        for name in QUERY_WARMUP:
            registry.QUERIES[name](self.ctx.spark, d).write.format("noop").mode("overwrite").save()
        shutil.rmtree(d, ignore_errors=True)
        return {}

    def rep(self, traced: bool) -> Rep:
        from swiftbulkuploader_spark import registry

        ctx = self.ctx
        spark = ctx.spark
        drop_memos(spark)
        d = self.fresh_copy()
        probe = layers.QueryProbe(spark)
        lat, frames, raised, per_layer = {}, {}, {}, []
        probe_s = 0.0
        for name in self.order:
            group = f"r{self.n_rep}-{name}"
            if traced:
                tp = time.perf_counter()
                probe.start(group)
                probe_s += time.perf_counter() - tp
            t0 = time.perf_counter()
            try:
                df = registry.QUERIES[name](spark, d)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a missing or raising query fails
                raised[name] = f"{type(e).__name__}: {e}"[:300]
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            lat[name] = t2 - t0
            if name not in raised:
                frames[name] = df
            if traced:
                tp = time.perf_counter()
                per_layer.append({"query.build_s": t1 - t0, "query.exec_s": t2 - t1,
                                  **probe.counts(group)})
                probe_s += time.perf_counter() - tp
        run_s = sum(lat.values())
        rep = Rep(run_s=run_s, main_s=run_s / len(self.order),
                  attempted=len(self.order), failed=len(raised), traced=traced)
        rep.extra["latency_s"] = lat
        if traced:
            rep.extra["probe"] = dict(zip(self.order, per_layer))
        if raised:
            rep.extra["raised"] = raised
        if not self.checked:
            tc = time.perf_counter()
            mismatched = self.check(frames)
            rep.extra["check_s"] = time.perf_counter() - tc
            rep.failed += len(mismatched)
            rep.correct = not mismatched
            rep.extra["oracle_mismatch"] = mismatched
            self.checked = True
        if traced:
            out = {k: sum(p[k] for p in per_layer) for k in per_layer[0]}
            total = out["query.build_s"] + out["query.exec_s"]
            out["query.build_share"] = out["query.build_s"] / total if total else 0.0
            out["trace.overhead_share"] = probe_s / run_s if run_s else 0.0
            rep.layers = out
        shutil.rmtree(d, ignore_errors=True)
        return rep

    def check(self, frames) -> list[str]:
        """Names whose collected result differs from the DuckDB oracle under
        the order-insensitive hash of tools/verify_local.py."""
        from swiftbulkuploader_spark import registry

        bad = []
        for name, df in frames.items():
            sql = registry.ORACLES.get(name)
            if sql is None:
                continue
            rows = [tuple(r) for r in df.collect()]
            res = self.oracle.execute(sql)
            want_cols = [c[0] for c in res.description]
            want = res.fetchall()
            if (len(rows) != len(want) or sorted(df.columns) != sorted(want_cols)
                    or table_hash(rows, df.columns) != table_hash(want, want_cols)):
                bad.append(name)
        return bad


def _duckdb(table_dir: str):
    import duckdb

    from swiftbulkuploader_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def table_hash(rows, colnames) -> str:
    """tools/verify_local.py's comparison rule: columns by name, rows
    sorted, floats to 9 significant digits."""
    import hashlib
    import math

    def cell(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return "0" if v == 0 else f"{v:.9g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(cell(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def drop_memos(spark) -> None:
    """Empty every module-level memo dict of the package and unpersist every
    cached frame and RDD, so a rep computes instead of reading back."""
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("swiftbulkuploader_spark"):
            continue
        for name, value in list(vars(mod).items()):
            if (isinstance(value, dict) and name.startswith("_")
                    and ("CACHE" in name or "MEMO" in name)):
                value.clear()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


WORKLOADS = {
    "upload_small": UploadSmall,
    "upload_remote": UploadRemote,
    "resume_dirty": ResumeDirty,
    "query_mix": QueryMix,
}
