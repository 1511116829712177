"""One benchmark run inside an isolated temp root (started by run.py).

    python3 perfbench/worker.py --workload search --seed 1 --seconds 10 \
        --trace 0 --root <temp root> --inputs <json of input paths> \
        --out <json>

The inputs are generated by run.py (``gen.prepare``) before this
process starts; the worker only reads them.  The run writes its full record (result, environment, samples, and in a
traced run the spans and Spark counters) to ``--out``; run.py prints
the result line from it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import tempfile
import time

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402

# the log policy with min_merge_size 2: the second commit into an
# index merges (only the traced run makes one)
SEARCH_MERGE_POLICY = {"kind": "log", "min_merge_size": 2}
# _bulk and _flush switch to their distributed paths above this many
# bytes (the program's defaults are 4 MiB and 16 MiB).  1 MiB sends the
# 1.7 MB set-up batch of `search` through both distributed paths, while
# the small commits of the layer sweeps stay on the driver paths.
DISTRIBUTED_BYTES = 1 << 20
# durable artifacts the program keys on tempfile.gettempdir()
STALE_PREFIXES = ("toshi_spark_seg_", "toshi_spark_cat_", "toshi_bulk_")

# operators that no API route reaches: query.blockmax, the similarity
# joins of pipeline.dedup / similarity / training, the bounded-collect
# sites of pipeline.webtext / training, pipeline.textstats and
# pipeline.multimodal.  Nine keys, not all 50, to fit the time budget
# (see README.md).
PIPELINE_KEYS = [
    "ft_blockmax_topk", "lsh_pairs", "ngram_jaccard", "embedding_neardup",
    "fuzzy_contamination", "lm_score", "webtext_clean", "text_profile",
    "multimodal_pipeline",
]


# ------------------------------------------------------------ helpers

def _canon(v):
    if isinstance(v, float):
        return round(v, 4)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v if isinstance(v, (int, str, bool)) or v is None else str(v)


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows, floats at 4 dp."""
    lines = sorted(json.dumps(_canon(r.asDict(recursive=True)),
                              sort_keys=True) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def hits_digest(resp: dict) -> str:
    """Digest of a search response: (url, score at 4 dp) in rank order,
    plus the facet counts."""
    hits = [(d["doc"].get("url"), round(float(d["score"]), 4))
            for d in resp.get("docs", [])]
    return hashlib.md5(json.dumps(
        {"hits": hits, "facets": resp.get("facets", [])},
        sort_keys=True).encode()).hexdigest()


def geomean(values: list[float]) -> float:
    """Geometric mean.  Over a cycle of unlike operations it moves with
    every operation, where the median jumps from one to another."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def stale_artifacts(root: str) -> list[str]:
    found = []
    for dirpath, dirnames, filenames in os.walk(root):
        for n in dirnames + filenames:
            if n.startswith(STALE_PREFIXES):
                found.append(os.path.join(dirpath, n))
    return found


def read_text(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def golden_path(workload: str, seed: int) -> str:
    return os.path.join(HERE, "golden", f"{workload}-s{seed}.json")


def load_golden(workload: str, seed: int) -> dict | None:
    p = golden_path(workload, seed)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


class Checks:
    """Counts operations and failures; keeps the first reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(why)


class Tracing:
    """Turns the tracer of a traced run on for one phase."""

    def __init__(self, tracer):
        self.tracer = tracer

    def __enter__(self):
        if self.tracer is not None:
            self.tracer.install()
        return self.tracer

    def __exit__(self, *exc):
        if self.tracer is not None:
            self.tracer.uninstall()


def call(tracer, kind: str, label: str, fn, *args):
    """``fn(*args)``, as one traced request while tracing is on."""
    if tracer is None or not tracer.active:
        return fn(*args)
    return tracer.request(kind, label, fn, *args)


# ------------------------------------------------------------ session

def start_session(root: str, cpus: int):
    from toshi_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench", cores=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, (time.perf_counter() - t) * 1000.0


def host_counters() -> tuple[float, float, float]:
    """(steal jiffies, all jiffies, CPU-pressure stall us) of the host,
    read from /proc; zeros where the kernel does not provide them."""
    steal = total = stall = 0.0
    try:
        with open("/proc/stat") as f:
            cols = [float(x) for x in f.readline().split()[1:]]
        steal, total = (cols[7] if len(cols) > 7 else 0.0), sum(cols)
        with open("/proc/pressure/cpu") as f:
            stall = float(f.readline().rsplit("total=", 1)[1])
    except (OSError, ValueError, IndexError):
        pass
    return steal, total, stall


def host_load(before, after, wall_s: float) -> dict:
    """Steal share and CPU-pressure share of a window: how much of it
    the host took away from this run."""
    d = [b - a for a, b in zip(before, after)]
    return {"steal_pct": 100.0 * d[0] / d[1] if d[1] else 0.0,
            "cpu_pressure_pct": d[2] / 1e4 / wall_s if wall_s else 0.0}


def canary(spark, cpus: int) -> float:
    """A fixed range-sum job: no I/O, no shuffle.  Its time before and
    after a run shows whether the host was busy during the window."""
    t = time.perf_counter()
    spark.range(50_000_000, numPartitions=cpus).selectExpr(
        "sum(id * 3 + 1)").collect()
    return (time.perf_counter() - t) * 1000.0


# ------------------------------------------------------------- search

class SearchIndex:
    """One index built through the API, and the query mix over it."""

    def __init__(self, spark, base: str, name: str, queries: list,
                 expect: list, checks: Checks, tracer=None):
        from toshi_spark.api import ToshiApi
        from toshi_spark.index.catalog import IndexCatalog

        self.api = ToshiApi(
            IndexCatalog(spark, base,
                         flush_distributed_bytes=DISTRIBUTED_BYTES),
            merge_policy=SEARCH_MERGE_POLICY,
            bulk_distributed_bytes=DISTRIBUTED_BYTES)
        self.dir = os.path.join(base, name)
        self.name = name
        self.queries = queries
        self.expect = expect
        self.checks = checks
        self.tracer = tracer
        self.docs = 0
        self.input_bytes = 0
        self.segments_after_commit: list[int] = []

    def _handle(self, kind: str, label: str, *args):
        return call(self.tracer, kind, label, self.api.handle, *args)

    def create(self) -> None:
        st, resp = self._handle("create", self.name, "PUT",
                                f"/{self.name}/_create", gen.SEARCH_SCHEMA)
        self.checks.record(st == 201, f"create: {st} {resp}")

    def commit(self, body: str) -> tuple[float, float]:
        """``_bulk`` then ``_flush``; returns their wall seconds."""
        n = body.count("\n")
        t = time.perf_counter()
        st, resp = self._handle("bulk", self.name, "POST",
                                f"/{self.name}/_bulk", body)
        bulk_s = time.perf_counter() - t
        self.checks.record(st == 201 and resp.get("docs") == n,
                           f"bulk: {st} {resp}")
        t = time.perf_counter()
        st, resp = self._handle("commit", self.name, "GET",
                                f"/{self.name}/_flush")
        flush_s = time.perf_counter() - t
        self.checks.record(st == 200, f"flush: {st} {resp}")
        self.docs += n
        self.input_bytes += len(body.encode("utf-8"))
        with open(os.path.join(self.dir, "manifest.jsonl")) as f:
            self.segments_after_commit.append(
                sum(1 for ln in f if ln.strip()))
        st, summ = self.api.handle("GET", f"/{self.name}/_summary")
        got = (summ or {}).get("summaries", {}).get("num_docs")
        self.checks.record(st == 200 and got == self.docs,
                           f"summary: {st} num_docs={got} want {self.docs}")
        return bulk_s, flush_s

    def search(self, i: int) -> float:
        body = self.queries[i]
        t = time.perf_counter()
        st, resp = self._handle("search", f"q{i}", "POST", f"/{self.name}",
                                body)
        ms = (time.perf_counter() - t) * 1000.0
        ok, why = st == 200, f"q{i}: status {st} {resp}"
        if ok:
            d = hits_digest(resp)
            if self.expect[i] is None:
                self.expect[i] = d  # no golden: later repeats must agree
            ok, why = d == self.expect[i], f"q{i}: digest {d}"
            term = body["query"].get("term", {}).get("text", "")
            if ok and term.startswith("marker"):
                urls = [x["doc"]["url"] for x in resp["docs"]]
                ok = len(urls) == 1 and urls[0].endswith(
                    f"/page/{int(term[len('marker'):]):010d}")
                why = f"q{i}: {term} -> {urls}"
        self.checks.record(ok, why)
        return ms

    def cycle(self) -> list[float]:
        return [self.search(i) for i in range(len(self.queries))]


def search_setup(spark, args, checks: Checks, tracer) -> dict:
    ins = args.inputs
    with open(ins["queries"]) as f:
        queries = json.load(f)
    golden = load_golden("search", args.seed)
    expect = list(golden["queries"]) if golden else [None] * len(queries)
    six = SearchIndex(spark, os.path.join(args.root, "catalog"), "web",
                      queries, expect, checks, tracer)
    body = read_text(ins["corpus"])
    with Tracing(tracer):
        six.create()
        bulk_s, flush_s = six.commit(body)
    t = time.perf_counter()
    six.cycle()  # untimed warm-up pass
    warmup_s = time.perf_counter() - t
    return {
        "phases_s": {"bulk": bulk_s, "flush": flush_s, "warmup": warmup_s},
        "golden": golden is not None, "six": six, "cycle": six.cycle,
        "docs_per_s": six.docs / (bulk_s + flush_s),
        "bytes_ratio": dir_bytes(six.dir) / six.input_bytes,
        "digests": {"queries": expect},
    }


def search_sweep(spark, args, checks: Checks, tracer, st: dict) -> None:
    """Traced run only: one more commit (the merge policy compacts the
    two segments), then one cold pass over the pipeline operators."""
    six = st["six"]
    with Tracing(tracer):
        six.commit(read_text(args.inputs["sweep_commit"]))
        # the tables are the pipeline workload's, so are its goldens
        Pipeline(spark, args.inputs["tables"],
                 load_golden("pipeline", args.seed), checks, tracer).pass_()


# ----------------------------------------------------------- pipeline

class Pipeline:
    def __init__(self, spark, sf_dir: str, golden: dict | None,
                 checks: Checks, tracer=None):
        from toshi_spark.queries import QUERIES

        self.spark = spark
        self.sf_dir = sf_dir
        self.fns = {k: QUERIES[k] for k in PIPELINE_KEYS}
        self.expect = dict(golden["keys"]) if golden else {}
        self.checks = checks
        self.tracer = tracer

    def _run(self, key: str):
        return self.fns[key](self.spark, self.sf_dir).collect()

    def op(self, key: str) -> float:
        t = time.perf_counter()
        try:
            rows = call(self.tracer, "op", key, self._run, key)
        except Exception as e:  # an operator failure is a failed op
            self.checks.record(False, f"{key}: {type(e).__name__}: {e}")
            return (time.perf_counter() - t) * 1000.0
        ms = (time.perf_counter() - t) * 1000.0
        d = rows_digest(rows)
        self.expect.setdefault(key, d)
        self.checks.record(d == self.expect[key], f"{key}: digest {d}")
        return ms

    def pass_(self) -> list[float]:
        return [self.op(k) for k in PIPELINE_KEYS]


def pipeline_setup(spark, args, checks: Checks, tracer) -> dict:
    golden = load_golden("pipeline", args.seed)
    pipe = Pipeline(spark, args.inputs["tables"], golden, checks, tracer)
    t = time.perf_counter()
    pipe.pass_()  # untimed set-up pass: builds the session artifacts
    setup_pass_s = time.perf_counter() - t
    return {"phases_s": {"setup_pass": setup_pass_s},
            "golden": golden is not None, "pipe": pipe, "cycle": pipe.pass_,
            "digests": {"keys": pipe.expect}}


def pipeline_sweep(spark, args, checks: Checks, tracer, st: dict) -> None:
    """Traced run only: the API layers on a toy index — create, two
    commits (the second merges), one pass of the query mix."""
    ins = args.inputs
    with open(ins["queries"]) as f:
        queries = json.load(f)
    six = SearchIndex(spark, os.path.join(args.root, "sweep"), "toy",
                      queries, [None] * len(queries), checks, tracer)
    with Tracing(tracer):
        six.create()
        bulk_s, flush_s = six.commit(read_text(ins["sweep_a"]))
        first_docs = six.docs
        six.commit(read_text(ins["sweep_b"]))
        six.cycle()
    st["six"] = six
    st["docs_per_s"] = first_docs / (bulk_s + flush_s)
    st["bytes_ratio"] = dir_bytes(six.dir) / six.input_bytes


# -------------------------------------------------------------- main

# One timed cycle per this many seconds of --seconds (at least one).  A
# cycle takes 9-17 s on the 4-core reference box, so a run measures
# about --seconds; the count is fixed so that every run measures the
# same operations, at the same warmth, however fast the host is that
# minute.
CYCLE_SECONDS = 10


def timed_cycles(cycle, seconds: float) -> tuple[list[float], float, list]:
    """Closed loop, one client: a fixed number of whole cycles.  Returns
    the samples, the wall time and each cycle's host record (CPU steal
    and pressure, kept as a diagnostic of the window)."""
    samples: list[float] = []
    wall = 0.0
    hosts: list[dict] = []
    for _ in range(max(1, round(seconds / CYCLE_SECONDS))):
        h0, c0 = host_counters(), time.perf_counter()
        samples += cycle()
        w = time.perf_counter() - c0
        wall += w
        hosts.append({"wall_s": w, **host_load(h0, host_counters(), w)})
    return samples, wall, hosts


WORKLOADS = {
    "search": (search_setup, search_sweep),
    "pipeline": (pipeline_setup, pipeline_sweep),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--inputs", required=True, type=json.loads,
                    help="JSON object of input paths from gen.prepare")
    ap.add_argument("--out", required=True)
    ap.add_argument("--record-golden", action="store_true")
    args = ap.parse_args()

    import pyspark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    env = {"nproc": len(os.sched_getaffinity(0)),
           "SPARK_GRAFT_CPUS": cpus, "pyspark": pyspark.__version__,
           "workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace}
    spark, session_ms = start_session(args.root, cpus)
    env["session_ready_s"] = time.perf_counter() - PROCESS_START
    # the run's temp root must be the program's tempfile dir, and no
    # durable artifact of an earlier run may be under it
    root = os.path.realpath(args.root)
    if os.path.realpath(tempfile.gettempdir()) != root:
        raise SystemExit(f"tempfile dir {tempfile.gettempdir()} is not "
                         f"the run's temp root {root}")
    stale = stale_artifacts(root)
    if stale:
        raise SystemExit(f"stale artifacts under the temp root: {stale}")

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    checks = Checks()
    setup, sweep = WORKLOADS[args.workload]
    st = setup(spark, args, checks, tracer)
    setup_s = time.perf_counter() - PROCESS_START
    # canaries run on the warm session, right before and after the window
    env["canary_pre_ms"] = canary(spark, cpus)
    samples, wall, env["cycles"] = timed_cycles(st["cycle"], args.seconds)
    traced, after = [], []
    if tracer is not None:
        # tracing overhead, A-B-A: one traced cycle between the untraced
        # timed cycles and one more untraced cycle, so that warm-up
        # between cycles cancels; then the layer sweep
        with Tracing(tracer):
            traced = st["cycle"]()
        after = st["cycle"]()
        sweep(spark, args, checks, tracer, st)
    env["canary_post_ms"] = canary(spark, cpus)
    env["golden"] = st["golden"]
    env["setup_phases_s"] = st["phases_s"]
    env["samples"] = len(samples)
    env["setup_s"] = setup_s
    env["session_start_ms"] = session_ms

    record = {"env": env, "samples_ms": samples, "wall_s": wall,
              "correct": checks.failed == 0, "attempted": checks.attempted,
              "failed": checks.failed, "fail_reasons": checks.reasons}
    if tracer is None:
        record["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_geomean_ms": {"value": geomean(samples), "unit": "ms"},
            "ops_per_s": {"value": len(samples) / wall, "unit": "1/s"},
        }
    else:
        import layers

        record["metrics"] = layers.per_layer_metrics(
            tracer, env, st, samples, traced, after)
        record["trace"] = tracer.dump()
    with open(args.out, "w") as f:
        json.dump(record, f)
    if args.record_golden and checks.failed == 0 and not st["golden"]:
        os.makedirs(os.path.dirname(golden_path(args.workload, args.seed)),
                    exist_ok=True)
        with open(golden_path(args.workload, args.seed), "w") as f:
            json.dump(st["digests"], f, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
