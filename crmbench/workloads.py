"""The benchmark's two workloads, driven through the package's public entry
points from one process.

- ``crm_ingest``: the flagship write path. ``run_pipeline`` backfills a
  seeded ActiveCampaign fixture into an empty lake, runs incremental batches
  of new contacts, then replays the last run id with its watermark restored.
  The only user of ``sources``, ``plans.pipeline`` and ``TableStore.persist``.
- ``query_stream_mix``: registry queries on seeded tables, each written to
  the ``noop`` sink: read-only analytics and curation queries, matview and
  HLL store lifecycles, and their micro-batch streaming twins. The only user
  of ``streaming`` and the operator store kernels; no REST calls and no
  ``TableStore`` writes.

Each workload returns its timed operations, its output checks and, when a
:class:`~spans.Tracer` is given, the per-layer figures of the timed region.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
from activecampaign_api_data_pipeline_spark.operators import hll_store, matview
from activecampaign_api_data_pipeline_spark.oracles import build_oracles
from activecampaign_api_data_pipeline_spark.plans import pipeline as P
from activecampaign_api_data_pipeline_spark.queries import REGISTRY
from activecampaign_api_data_pipeline_spark.storage import TableStore

from fixture import KEY_COLS, ACFixture, FixtureServer
from stats import canonical_hash, median
from tables import write_tables

#: crm_ingest sizes: backfill contacts, contacts per incremental run, and the
#: most incremental runs a fixture holds.
BACKFILL_CONTACTS = 30
INCREMENT_CONTACTS = 20
MAX_INCREMENTS = 6
#: endpoints the pipeline fetches: ``activities`` holds the whale contacts
#: that page and pass the per-contact event cap; ``deals`` and ``dealNotes``
#: run the two-level deal fan-out, which reads every stored deal; ``users``
#: names the acting user in the mart. The other 15 child endpoints, 2 deal
#: children and 10 dims are left out to fit the run budget (each persisted
#: table adds about 2.3 s to every pipeline call).
CRM_CHILDREN = ["activities"]
CRM_DEAL_CHILDREN = ["dealNotes"]
CRM_DIMS = ["users"]

ANALYTICS = ["flagship_chatter", "q5_revenue_by_nation", "j_asof_last_order", "a_cohort_retention"]
CURATION = ["dedup_minhash_lsh", "text_bm25_topk", "g_pagerank_fixed"]
STORES = ["k_matview_roundtrip", "k_hll_store_roundtrip"]
STREAMS = ["t_stream_matview", "t_stream_hll"]
FAMILIES = {
    **dict.fromkeys(ANALYTICS, "analytics"), **dict.fromkeys(CURATION, "curation"),
    **dict.fromkeys(STORES, "stores"), **dict.fromkeys(STREAMS, "streams"),
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
#: cross-run caches some queries keep in the temp dir on purpose
KEEP_TMP = ("acdp_ann_index_", "acdp_sq8_index_", "acdp_decontam_")
SETUP_REPEATS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
#: a run repeats its timed unit (an incremental run, or a pass over the ops)
#: once per this many seconds of ``--seconds``. The count is fixed by the
#: arguments, not by a clock, so that every run measures the same work.
SECONDS_PER_UNIT = 10.0


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    setup_s: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    report: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def _sweep_tmp() -> None:
    """Remove the ``acdp_*`` temp stores queries create and never delete."""
    tmp = os.environ["TMPDIR"]
    for path in glob.glob(os.path.join(tmp, "acdp_*")):
        if not os.path.basename(path).startswith(KEEP_TMP):
            shutil.rmtree(path, ignore_errors=True)


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants,
    including the children they have reaped.

    Here that is the Python driver, the Spark JVM and its Python workers. A
    delta over an op is its CPU cost; unlike its wall time, it leaves out the
    time the host gave to other tenants.
    """
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        pid = int(d)
        # after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / CLK_TCK


def _dir_size(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def units(seconds: float) -> int:
    return max(1, round(seconds / SECONDS_PER_UNIT))


def _repeat_setup(make, repeats: int = SETUP_REPEATS):
    """Run an input-making step ``repeats`` times; return the last result,
    the median seconds and the total seconds spent."""
    times, out = [], None
    for i in range(repeats):
        t = time.perf_counter()
        out = make(i)
        times.append(time.perf_counter() - t)
    return out, median(times), sum(times)


# ------------------------------------------------------------------- crm_ingest


def _gold_state(lake: str, tables: list[str]) -> dict[str, tuple[int, str]]:
    """Per gold table and mart: distinct key count and content hash, read with
    DuckDB straight from the lake files."""
    con = duckdb.connect()
    out = {}
    try:
        for t in tables:
            rel = f"read_parquet('{lake}/gold/{t}/**/*.parquet', hive_partitioning = true)"
            keys = ", ".join(KEY_COLS.get(t, ["id", "contact_id"]))
            n = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM {rel})").fetchone()[0]
            out[t] = (n, canonical_hash(con.execute(f"SELECT * FROM {rel}").fetchdf()))
        for m in ("chatter_master", "contact_digest"):
            rel = f"read_parquet('{lake}/mart/{m}/*.parquet')"
            out[m] = (0, canonical_hash(con.execute(f"SELECT * FROM {rel}").fetchdf()))
    finally:
        con.close()
    return out


def crm_ingest(spark, seed: int, seconds: float, work: str, tracer, t0: float) -> Outcome:
    res = Outcome()
    sizes = [BACKFILL_CONTACTS] + [INCREMENT_CONTACTS] * MAX_INCREMENTS
    fx, gen_med, gen_total = _repeat_setup(lambda _: ACFixture(seed, sizes))
    server = FixtureServer(fx)
    url = server.start()
    lake = os.path.join(work, "lake")
    cfg = P.PipelineConfig(
        base_url=url, lake_root=lake, rate=1e9,
        fetch_partitions=min(4, len(os.sched_getaffinity(0))),
        children=list(CRM_CHILDREN), deal_children=list(CRM_DEAL_CHILDREN), dims=list(CRM_DIMS),
    )
    tables = ["contacts", *CRM_CHILDREN, "deals", *CRM_DEAL_CHILDREN]
    store = TableStore(spark, lake)
    calls: list[tuple[str, float, int, int]] = []  # (phase, seconds, contacts fetched, requests)
    hits = [0]  # dim loads served by the TTL cache
    if tracer is not None:
        tracer.reset()
        _trace_crm(tracer, hits)
    res.setup_s = time.time() - t0 - gen_total + gen_med

    def run(phase: str, run_id: str, new_contacts: int) -> None:
        res.attempted += 1
        c0 = server.counters()
        cpu = tree_cpu_s()
        t = time.perf_counter()
        try:
            if tracer is None:
                P.run_pipeline(spark, cfg, run_id=run_id)
            else:
                with tracer.span("plans.run_pipeline"):
                    P.run_pipeline(spark, cfg, run_id=run_id)
        except Exception as e:  # an op that raises is a failed op, the run goes on
            res.fail(f"{phase} {run_id}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t
        c1 = server.counters()
        res.cpu_s += tree_cpu_s() - cpu - (c1["cpu_s"] - c0["cpu_s"])
        res.op_s.append(dt)
        calls.append((phase, dt, new_contacts, c1["requests"] - c0["requests"]))

    def check_keys(phase: str) -> None:
        want = fx.expected_keys()
        got = _gold_state(lake, tables)
        bad = [t for t in tables if got[t][0] != want[t]]
        if bad:
            res.fail(f"{phase}: gold key counts {[(t, got[t][0], want[t]) for t in bad]}")
        wm = store.load_state().get("max_contact_id")
        if wm != fx.max_contact_id():
            res.fail(f"{phase}: watermark {wm} != {fx.max_contact_id()}")

    try:
        fx.publish(0)
        run("backfill", "r0", len(fx.batches[0]))
        check_keys("backfill")
        for i in range(1, min(units(seconds), MAX_INCREMENTS) + 1):
            fx.publish(i)
            prev_state = store.load_state()  # the watermark the replay restores
            run("incremental", f"r{i}", len(fx.batches[i]))
        check_keys("incremental")
        state = _gold_state(lake, tables)
        store.save_state(prev_state)
        run("replay", f"r{i}", len(fx.batches[i]))
        if _gold_state(lake, tables) != state:
            res.fail("replay changed gold or mart content")
        check_keys("replay")
    finally:
        served = server.counters()
        server.stop()

    files, lake_bytes = _dir_size(lake)
    res.wall_s = sum(c[1] for c in calls)
    by_phase = {p: [c[1] for c in calls if c[0] == p] for p in ("backfill", "incremental", "replay")}
    res.report = {
        "backfill_s": by_phase["backfill"][0],
        "incremental_s": median(by_phase["incremental"]),
        "replay_s": by_phase["replay"][0],
        "space_amp": lake_bytes / served["bytes_served"],
        "incremental_runs": len(by_phase["incremental"]),
        # the deal-child fan-out reads every stored deal, so this grows with the store
        **{f"requests_per_contact_{p}": sum(c[3] for c in calls if c[0] == p) / sum(c[2] for c in calls if c[0] == p)
           for p in by_phase},
    }
    if tracer is not None:
        t = tracer.totals()
        g = lambda n, k: t.get(n, {}).get(k, 0)  # noqa: E731
        contacts = sum(c[2] for c in calls)
        res.layers.update(_persist_layers(tracer))
        res.layers.update({
            "sources.requests": served["requests"],
            "sources.requests_per_contact": served["requests"] / contacts,
            "sources.bytes_served": served["bytes_served"],
            "sources.server_busy_s": served["busy_s"],
            "storage.write_digests.s": g("storage.write_digests", "s"),
            "storage.lake_files": files,
            "storage.lake_bytes": lake_bytes,
            "plans.load_dim_cached.s": g("plans.load_dim_cached", "s"),
            "plans.dim_cache_hits": hits[0],
            "plans.build_ac_chatter.s": g("plans.build_ac_chatter", "s"),
            "plans.build_ac_chatter.jobs": tracer.inclusive("plans.build_ac_chatter")["jobs"],
            "plans.run_pipeline.other_s": g("plans.run_pipeline", "self_s"),
        })
    return res


def _trace_crm(tracer, hits: list[int]) -> None:
    def dim_probe(spark, cfg, name, fields):
        if os.path.exists(f"{cfg.lake_root}/dims/{name}/_meta.json"):
            hits[0] += 1

    tracer.wrap(TableStore, "persist", "storage.persist")
    tracer.wrap(P, "write_digests", "storage.write_digests")
    tracer.wrap(P, "load_dim_cached", "plans.load_dim_cached", on_call=dim_probe)
    tracer.wrap(P, "build_ac_chatter", "plans.build_ac_chatter")


# ---------------------------------------------------------- registry workloads


def _trace_store_kernels(tracer) -> None:
    kernels = {
        "operators.matview": (matview, ["build_matview", "append_matview", "read_matview", "compact_matview"]),
        "operators.hll_store": (hll_store, ["build_hll_view", "append_hll_view", "read_hll_view", "compact_hll_view"]),
    }
    for span, (mod, names) in kernels.items():
        for n in names:
            tracer.wrap(mod, n, span)
    tracer.wrap(TableStore, "persist", "storage.persist")


def registry_workload(
    ops: list[str], spark, seed: int, seconds: float, work: str, tracer, t0: float
) -> Outcome:
    def make_inputs(i: int) -> str:
        path = os.path.join(work, f"data{i}")
        write_tables(seed, path)
        return path

    res = Outcome()
    rng = random.Random(seed)
    data, gen_med, gen_total = _repeat_setup(make_inputs)
    fns = {n: REGISTRY[n] for n in ops}

    # untimed warm pass; its results are the ones checked against the oracle
    got: dict[str, str] = {}
    for name in rng.sample(ops, len(ops)):
        try:
            got[name] = canonical_hash(fns[name](spark, data).toPandas())
        except Exception as e:  # recorded, checked below
            got[name] = f"error: {type(e).__name__}: {e}"
        _sweep_tmp()
    res.setup_s = time.time() - t0 - gen_total + gen_med

    if tracer is not None:
        tracer.reset()
        _trace_store_kernels(tracer)
    lat: dict[str, list[float]] = {n: [] for n in ops}
    for _ in range(units(seconds)):
        for name in rng.sample(ops, len(ops)):
            res.attempted += 1
            fam = FAMILIES[name]
            cpu = tree_cpu_s()
            t = time.perf_counter()
            try:
                if tracer is None:
                    fns[name](spark, data).write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"queries.{fam}"):
                        with tracer.span(f"queries.{fam}.build"):
                            df = fns[name](spark, data)
                        with tracer.span(f"queries.{fam}.exec"):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # an op that raises is a failed op
                res.fail(f"{name}: {type(e).__name__}: {e}")
            dt = time.perf_counter() - t
            res.cpu_s += tree_cpu_s() - cpu
            lat[name].append(dt)
            res.op_s.append(dt)
            _sweep_tmp()
    res.wall_s = sum(res.op_s)
    res.report["op_p50_s_by_name"] = {n: median(v) for n, v in lat.items()}

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        oracles = build_oracles()
        for name in ops:
            want = canonical_hash(con.execute(oracles[name]).fetchdf())
            if got[name] != want:
                res.failed += len(lat[name])
                res.problems.append(f"{name}: spark {got[name]} != oracle {want}")
    finally:
        con.close()

    if tracer is not None:
        res.layers.update(_registry_layers(tracer))
    return res


def _registry_layers(tracer) -> dict[str, float]:
    t = tracer.totals()
    out: dict[str, float] = {}
    for fam in ("analytics", "curation", "stores", "streams"):
        inc = tracer.inclusive(f"queries.{fam}")
        out[f"queries.{fam}.build_s"] = t.get(f"queries.{fam}.build", {}).get("s", 0.0)
        out[f"queries.{fam}.exec_s"] = t.get(f"queries.{fam}.exec", {}).get("s", 0.0)
        out[f"queries.{fam}.jobs"] = inc["jobs"]
        out[f"queries.{fam}.stages"] = inc["stages"]
        out[f"queries.{fam}.tasks"] = inc["tasks"]
        out[f"queries.{fam}.executor_run_s"] = inc["executor_run_ms"] / 1000
        out[f"queries.{fam}.shuffle_read_bytes"] = inc["shuffle_read_bytes"]
        out[f"queries.{fam}.shuffle_write_bytes"] = inc["shuffle_write_bytes"]
        out[f"queries.{fam}.spill_bytes"] = inc["spill_bytes"]
    for k in ("matview", "hll_store"):
        out[f"operators.{k}.s"] = t.get(f"operators.{k}", {}).get("s", 0.0)
        out[f"operators.{k}.jobs"] = tracer.inclusive(f"operators.{k}")["jobs"]
    out.update(_persist_layers(tracer))
    return out


def _persist_layers(tracer) -> dict[str, float]:
    own = tracer.totals().get("storage.persist", {})
    inc = tracer.inclusive("storage.persist")
    return {
        "storage.persist.s": own.get("s", 0.0),
        "storage.persist.calls": own.get("calls", 0),
        "storage.persist.jobs": inc["jobs"],
        "storage.persist.stages": inc["stages"],
        "storage.persist.executor_run_s": inc["executor_run_ms"] / 1000,
        "storage.persist.shuffle_bytes": inc["shuffle_read_bytes"] + inc["shuffle_write_bytes"],
        "storage.persist.spill_bytes": inc["spill_bytes"],
    }


def query_stream_mix(spark, seed, seconds, work, tracer, t0) -> Outcome:
    return registry_workload(ANALYTICS + CURATION + STORES + STREAMS, spark, seed, seconds, work, tracer, t0)


WORKLOADS = {"crm_ingest": crm_ingest, "query_stream_mix": query_stream_mix}
