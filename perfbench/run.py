"""Benchmark of the CLI case pipeline, end to end and per layer.

One ``run.main`` call is the reference job: URL worklist -> case and
scenario page fetch -> parse -> nested record -> validate -> per-case
JSON, optional PDF -> ``results_NNN.json`` manifest. The benchmark
generates a loopback site from the seed, serves it from a separate
process, calls ``run.main`` one call at a time (closed loop, one
caller) in a ``local[nproc]`` session and checks every output against
the generator's expected records.

    python3 perfbench/run.py --workload cli_json --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Run it from the repository root. The last stdout line is one JSON
object: ``correct``, ``attempted`` and ``failed`` (cases) and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The host state and, when traced, the spans
are written to ``.perfbench/records/``. Metric meanings and the layer
-> end-to-end mapping are in ``perfbench/layers.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = {
    "cli_json": {"cases": 1000, "pdf": False},
    "cli_pdf": {"cases": 100, "pdf": True},
}
RENDER_PROBE_CASES = 20  # PDF-layer probe size where the run writes no PDF
BUSY_SHARE_LIMIT = 0.2  # above this the site, not the program, is measured
# a later call that lost more CPU than this to other tenants is not used
# for cases_per_s while a retry fits in the run
STEAL_LIMIT = 0.02
DEADLINE_S = 150  # stop starting new calls after this much wall time

RECORD_DDL = (
    "case_id string, case_name string, url string, date string, location string, "
    "facility string, summary string, phenomenon string, process string, "
    "cause string, response string, countermeasure string, knowledge array<string>, "
    "background string, scenario struct<cause:array<array<string>>,"
    "action:array<array<string>>,result:array<array<string>>>, "
    "images struct<representative:string,multimedia:array<struct<id:string,caption:string>>>, "
    "sources array<string>, casualties struct<deaths:int,injuries:int>, "
    "financial_damage string, social_impact string, notes string, field string, "
    "authors array<string>"
)


def _engine_env(work: str) -> None:
    """Point every scratch path of Spark, the JVM and the Python workers
    into the checkout, and size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.append(ROOT)
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def start_spark():
    """``get_spark`` through the first action: (session, start, end)."""
    from shippai_knowledge_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t0, t1


def stop_spark(spark) -> None:
    """Stop the session and the Spark JVM, and wait until the JVM and
    the Python workers it started have ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from measure import descendants, wait_gone

    workers = descendants(os.getpid(), set())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Py4JError:  # a signal cut a JVM call short; the JVM stops below
        pass
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    left = wait_gone(workers, 30)
    if left:
        print(f"warning: processes still running after stop: {left}", file=sys.stderr)


class Bench:
    """One benchmark run: site, server, session, output checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 cases: int | None = None) -> None:
        import sitegen

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cfg = dict(WORKLOADS[workload])
        if cases is not None:
            self.cfg["cases"] = cases
        self.work = os.path.join(STATE, f"work-{os.getpid()}")
        self.site = sitegen.build_site(seed, self.cfg["cases"])
        self.started = time.perf_counter()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.calls: list[dict] = []  # per call: seconds and host steal share
        self.server = None

    def argv(self, out: str) -> list[str]:
        return ([self.server.base + p for p in self.site.argv_paths]
                + ["--output-dir", out] + (["--pdf"] if self.cfg["pdf"] else []))

    def call(self, run_mod, wrap=contextlib.nullcontext) -> tuple[float, dict, str]:
        """One closed-loop ``run.main`` call inside ``wrap()``, verified
        after the clock stops: (seconds, verification, output dir). A
        call that raises or exits non-zero fails all of its cases."""
        import verify
        from measure import cpu_times, shares

        out = os.path.join(self.work, f"call{len(self.calls) + 1}")
        shutil.rmtree(out, ignore_errors=True)
        self.server.reset()
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        try:
            with wrap(), contextlib.redirect_stdout(sys.stderr):
                rc = run_mod.main(self.argv(out))
        except Exception as e:  # the benchmark must report, not crash
            rc = f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        steal = shares(cpu0, cpu_times())[0]
        self.calls.append({"s": dt, "steal_share": steal})
        site = self.server.stats()
        check = verify.check_run(self.site, self.server.base, out, self.cfg["pdf"])
        if rc != 0:
            check["failed"] = check["attempted"]
            check["problems"].insert(0, f"run.main returned {rc}")
        busy = site["busy_s"] / (site["window_s"] * site["threads"])
        if busy > BUSY_SHARE_LIMIT:
            check["failed"] = check["attempted"]
            check["problems"].insert(0, f"site busy share {busy:.2f}")
        check["site"] = dict(site, busy_share=busy)
        check["steal_share"] = steal
        self.attempted += check["attempted"]
        self.failed += check["failed"]
        self.problems += check["problems"][:5]
        return dt, check, out

    def room_for(self, seconds: float) -> bool:
        return time.perf_counter() - self.started + seconds < DEADLINE_S


def untraced(b: Bench, run_mod, spark, setup_s: float) -> dict:
    """End-to-end metrics: the first call in the fresh session, then
    repeated calls for ``--seconds`` (at least one, and up to three until
    one runs with host steal under ``STEAL_LIMIT``)."""
    from measure import RssSampler

    with RssSampler(skip={b.server.proc.pid}) as rss:
        run_s, first, out = b.call(run_mod)
        shutil.rmtree(out, ignore_errors=True)
        warm: list[float] = []
        clean: list[float] = []
        t_loop = time.perf_counter()
        while True:
            dt, check, out = b.call(run_mod)
            shutil.rmtree(out, ignore_errors=True)
            warm.append(dt)
            if check["steal_share"] <= STEAL_LIMIT:
                clean.append(dt)
            med = statistics.median(clean or warm)
            more = time.perf_counter() - t_loop + med <= b.seconds
            retry = not clean and len(warm) < 3
            if not (more or retry) or not b.room_for(med):
                break
    cases = len(b.site.cases)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "cases_per_s": (cases / statistics.median(clean or warm), "1/s"),
        "out_bytes_per_case": (first["out_bytes"] / max(1, first["successes"]), "B"),
        "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
    }


@contextlib.contextmanager
def layer_spans(tr, run_mod, captured: dict):
    """Wrap the layer functions ``run.main`` calls with spans, each
    followed by a materializing action so lazy work lands in its span."""
    from shippai_knowledge_etl_spark.operators import quality
    from shippai_knowledge_etl_spark.sources import sinks

    def cached(df):
        df = df.cache()
        df.count()
        return df

    def worklist(df):
        tr.counts["run.expand_worklist.links"] = df.count()
        captured.setdefault("worklist", df)
        return df

    targets = [
        (run_mod, "expand_worklist", "run.expand_worklist", worklist),
        (run_mod, "process_cases", "run.process_cases", cached),
        (run_mod, "_render_pdfs", "run.render_pdfs", None),
        (quality, "status_summary", "quality.status_summary", cached),
        (sinks, "write_cases_json_named", "sinks.write_cases_json_named", None),
        (sinks, "write_manifest_streamed", "sinks.write_manifest_streamed", None),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in targets]
    for mod, attr, name, mat in targets:
        setattr(mod, attr, tr.wrap(name, getattr(mod, attr), mat))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def job_counts(sc, group: str) -> dict:
    """Jobs, run stages, completed tasks and one-task stages of a job
    group, from the public status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [s for s in (st.getStageInfo(i) for i in stages) if s and s.numCompletedTasks > 0]
    return {"spark.jobs": len(jobs), "spark.stages": len(ran),
            "spark.tasks": sum(s.numCompletedTasks for s in ran),
            "spark.one_task_stages": sum(s.numTasks == 1 for s in ran)}


def output_counts(out: str) -> dict:
    import verify

    names = os.listdir(out)
    js = [n for n in names if n.endswith(".json") and not n.startswith("results_")]
    pdfs = [os.path.join(out, n) for n in names if n.endswith(".pdf")]
    pages = 0
    for p in pdfs:
        with open(p, "rb") as f:
            pages += verify.pdf_page_count(f.read()) or 0
    return {"sinks.json_files": len(js),
            "sinks.json_bytes": sum(os.path.getsize(os.path.join(out, n)) for n in js),
            "sinks.pdf_files": len(pdfs), "sinks.pdf_pages": pages,
            "sinks.pdf_bytes": sum(os.path.getsize(p) for p in pdfs)}


def probes(b: Bench, tr, spark, worklist, run_mod) -> None:
    """Isolated layer calls over the inputs of the first call: fetch and
    parse of the same pages, image fetch, diagram ops, and (when the
    run writes no PDF) a small PDF render."""
    from pyspark.sql import functions as F

    from shippai_knowledge_etl_spark.operators import diagram
    from shippai_knowledge_etl_spark.sources.fetch import fetch_binary, fetch_html
    from shippai_knowledge_etl_spark.sources.html_parse import (
        case_page_facets,
        scenario_page_facts,
    )

    site, base = b.site, b.server.base
    with_scen = [c.case_id for c in site.cases if c.has_scenario_page]
    cid = F.regexp_extract("case_url", r"/cf/(\w+)\.html", 1)
    pages = worklist.select(
        fetch_html("case_url").alias("p"),
        fetch_html(F.when(cid.isin(with_scen), F.regexp_replace("case_url", "/cf/CA", "/sf/SA"))
                   ).alias("s"),
    )
    with tr.span("fetch.fetch_html"):
        pages = pages.cache()
        r = pages.agg(
            F.sum(F.coalesce(F.octet_length("p.body"), F.lit(0))
                  + F.coalesce(F.octet_length("s.body"), F.lit(0))).alias("bytes"),
            F.count("p.error").alias("e1"), F.count("s.error").alias("e2"),
        ).first()
    tr.counts.update({"fetch.pages": len(site.cases) + len(with_scen),
                      "fetch.bytes": r["bytes"], "fetch.errors": r["e1"] + r["e2"]})
    with tr.span("html_parse.case_page_facets"):
        rows = pages.select(F.size(case_page_facets("p.body").getField("rows")).alias("n")
                            ).agg(F.sum("n")).first()[0]
    with tr.span("html_parse.scenario_page_facts"):
        items = pages.select(F.size(scenario_page_facts("s.body").getField("items")).alias("n")
                             ).agg(F.sum("n")).first()[0]
    pages.unpersist()
    tr.counts["html_parse.rows"] = rows + items

    ok = [c for c in site.cases if c.status == "success"]
    urls = [f"{base}/df/{c.rep}" for c in ok if c.rep] + [
        f"{base}/mf/{m}.jpg" for c in ok for m, _, _ in c.multimedia]
    imgs = spark.createDataFrame([(u,) for u in urls], "url string")
    with tr.span("fetch.fetch_binary"):
        nbytes = imgs.select(F.octet_length(fetch_binary("url").getField("content")).alias("n")
                             ).agg(F.sum("n")).first()[0]
    tr.counts.update({"fetch.images": len(urls), "fetch.image_bytes": nbytes or 0})

    import verify

    records = spark.createDataFrame([verify.expected_record(base, c) for c in ok], RECORD_DDL)
    with tr.span("diagram.draw_ops"):
        scen = records.select(F.col("case_id").alias("doc_id"), "scenario")
        ops = diagram.draw_ops(diagram.positioned_items_chunked(scen, "doc_id"), "doc_id")
        tr.counts["diagram.ops"] = ops.count()

    if not b.cfg["pdf"]:
        out = os.path.join(b.work, "render_probe")
        with tr.span("run.render_pdfs"):
            run_mod._render_pdfs(records.limit(RENDER_PROBE_CASES), out)
        pdf = output_counts(out)
        tr.counts.update({k: v for k, v in pdf.items() if k.startswith("sinks.pdf")})


def traced(b: Bench, run_mod, spark, setup: tuple[float, float]):
    """Per-layer metrics: the first call with every layer call in a
    span, a warm untraced/traced pair for the tracing overhead, then the
    isolated probes."""
    from measure import Tracer

    tr = Tracer(f"{b.workload}-s{b.seed}")
    tr.spans.append({"name": "session.get_spark", "start": setup[0], "end": setup[1],
                     "parent": None, "request": f"{tr.run_id}/setup"})
    sc = spark.sparkContext
    captured: dict = {}
    tr.request = "call1"
    sc.setJobGroup("call1", "first run.main call")
    with layer_spans(tr, run_mod, captured):
        _, first, out = b.call(run_mod, lambda: tr.span("run.main"))
    tr.counts.update(job_counts(sc, "call1"))
    sc.setJobGroup("other", "warm calls and probes")
    site = first["site"]
    tr.counts.update({"site.requests": site["requests"], "site.dup_requests": site["dup_requests"],
                      "site.bytes": site["bytes"], "site.busy_share": site["busy_share"]})
    with open(os.path.join(out, "results_001.json"), encoding="utf-8") as f:
        summary = json.load(f)["summary"]
    tr.counts.update({"quality.success": summary["n_success"],
                      "quality.excluded": summary["n_excluded"],
                      "quality.error": summary["n_error"]})
    counts = output_counts(out)
    tr.counts.update({k: v for k, v in counts.items()
                      if b.cfg["pdf"] or not k.startswith("sinks.pdf")})
    shutil.rmtree(out, ignore_errors=True)

    plain, _, out = b.call(run_mod)
    shutil.rmtree(out, ignore_errors=True)
    tr.request = "call3"
    with layer_spans(tr, run_mod, {}):
        warm, _, out = b.call(run_mod, lambda: tr.span("run.main.warm"))
    shutil.rmtree(out, ignore_errors=True)
    overhead = warm / plain - 1

    tr.request = "probes"
    probes(b, tr, spark, captured["worklist"], run_mod)

    m = {name: (tr.seconds(name[:-2]), "s") for name in (
        "session.get_spark_s", "run.expand_worklist_s", "fetch.fetch_html_s",
        "fetch.fetch_binary_s", "html_parse.case_page_facets_s",
        "html_parse.scenario_page_facts_s", "run.process_cases_s",
        "quality.status_summary_s", "sinks.write_cases_json_named_s", "diagram.draw_ops_s",
        "run.render_pdfs_s", "sinks.write_manifest_streamed_s")}
    m["run.process_cases.self_s"] = (
        m["run.process_cases_s"][0] - m["fetch.fetch_html_s"][0]
        - m["html_parse.case_page_facets_s"][0] - m["html_parse.scenario_page_facts_s"][0], "s")
    for name, v in tr.counts.items():
        m[name] = (v, "ratio" if name.endswith("share") else "B" if "bytes" in name else "count")
    m["trace.overhead_share"] = (overhead, "ratio")
    return m, tr


@contextlib.contextmanager
def running(b: Bench):
    """Site server and a fresh session for one run: yields (run module,
    session, (setup start, setup end)); stops both and removes the
    scratch dir."""
    os.makedirs(b.work, exist_ok=True)
    _engine_env(b.work)
    from measure import SiteServer

    spark = None
    try:
        with SiteServer(b.seed, b.cfg["cases"], os.cpu_count()) as server:
            b.server = server
            spark, t0, t1 = start_spark()
            from shippai_knowledge_etl_spark import run as run_mod

            yield run_mod, spark, (t0, t1)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(b.work, ignore_errors=True)


def bench(args) -> dict:
    from measure import cpu_times, host_state

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    cpu0 = cpu_times()
    with running(b) as (run_mod, spark, setup):
        if b.trace:
            metrics, tracer = traced(b, run_mod, spark, setup)
        else:
            metrics = untraced(b, run_mod, spark, setup[1] - setup[0])
    host = host_state(cpu0, cpu_times())
    if b.trace:
        metrics["host.steal_share"] = (host["steal_share"], "ratio")
        metrics["host.iowait_share"] = (host["iowait_share"], "ratio")
    with open(os.path.join(HERE, "layers.json"), encoding="utf-8") as f:
        layers = json.load(f)
    declared = ({m["metric"] for m in layers["mapping"]} if b.trace
                else set(layers["end_to_end"]) - {"failed_share"})
    if set(metrics) != declared:
        b.failed = b.attempted  # the report no longer matches its documentation
        b.problems.insert(0, f"metrics differ from layers.json: {sorted(set(metrics) ^ declared)}")
    record = {"workload": b.workload, "seed": b.seed, "trace": b.trace, "host": host,
              "calls": b.calls, "problems": b.problems[:20],
              "metrics": {k: v for k, (v, _) in metrics.items()}}
    records = os.path.join(STATE, "records")
    os.makedirs(records, exist_ok=True)
    path = os.path.join(records, f"{b.workload}-s{b.seed}-t{int(b.trace)}.json")
    if b.trace:
        tracer.dump(path, record)
    else:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(record, f)
    print(json.dumps({"host": host, "problems": b.problems[:5]}, ensure_ascii=False))
    return {
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def self_test() -> int:
    """Run one small PDF call, check it verifies clean, then corrupt one
    output at a time and check the verifier fails the affected cases."""
    import verify

    b = Bench("cli_pdf", 11, 1, False, cases=12)
    results = {}
    with running(b) as (run_mod, _, _):
        _, clean, out = b.call(run_mod)
        results["clean"] = clean["failed"]
        ok = [c for c in b.site.cases if c.status == "success"]

        def corrupt(name, path, edit):
            copy = os.path.join(b.work, name)
            shutil.copytree(out, copy)
            target = os.path.join(copy, path)
            with open(target, "rb") as f:
                data = f.read()
            with open(target, "wb") as f:
                f.write(edit(data))
            results[name] = verify.check_run(b.site, b.server.base, copy, True)["failed"]

        first_json = verify.json_name(ok[0])
        corrupt("json_value", first_json, lambda d: d.replace("。".encode(), "．".encode(), 1))
        corrupt("json_key_order", first_json,
                lambda d: json.dumps(dict(reversed(json.loads(d).items())),
                                     ensure_ascii=False).encode())
        corrupt("manifest_status", "results_001.json",
                lambda d: d.replace(b'"status": "success"', b'"status": "excluded"', 1))
        corrupt("pdf_image", f"{ok[0].case_id}.pdf",
                lambda d: d.replace(b"/Subtype /Image", b"/Subtype /Imagf", 1))
    caught = results["clean"] == 0 and all(v > 0 for k, v in results.items() if k != "clean")
    print(json.dumps({"self_test": results, "passed": caught}))
    return 0 if caught else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true",
                   help="check that the verifier catches corrupted outputs")
    args = p.parse_args()
    # a terminated run still stops the site server and the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "shippai_knowledge_etl_spark")):
        print("run from the repository root: shippai_knowledge_etl_spark/ not found",
              file=sys.stderr)
        return 2
    if args.self_test:
        return self_test()
    if args.workload is None:
        p.error("--workload is required")
    print(json.dumps(bench(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
