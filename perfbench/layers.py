"""Per-layer metrics of a traced run.

Builds spans pass -> op -> {construct, execute} -> [micro-batch] ->
SQL execution -> {planning phase, job} -> stage from the harness report,
assigns each span's self time to a layer named after the repo's
modules, and derives the layer counters.
"""
import stats

# outer -> inner; a span's parent is the innermost containing span of a
# smaller depth
DEPTH = {"construct": 2, "execute": 2, "batch": 3, "memo": 4, "write": 4, "query": 4,
         "sql": 4, "analysis": 5, "optimization": 5, "planning": 5, "job": 5}
# layer that owns a span kind's self time
LAYER = {"construct": "queries", "execute": "sched", "batch": "stream", "memo": "memo",
         "write": "commit", "query": "sched", "sql": "sched", "analysis": "plans",
         "optimization": "plans", "planning": "plans", "job": "sched"}
LAYERS = ["queries", "plans", "codegen", "sched", "exec", "shuffle", "commit", "memo", "stream"]
MB = 1048576.0


def spans_of(report):
    """All spans of the traced passes, with parents and attributes."""
    spans, next_id = [], [0]

    def add(kind, name, start, end, parent=None, **attrs):
        s = dict(id=next_id[0], kind=kind, name=name, start=start, end=end, parent=parent, **attrs)
        next_id[0] += 1
        spans.append(s)
        return s

    windows = []
    for pi, p in enumerate(report["passes"]):
        if not p["traced"]:
            continue
        ops = p["ops"]
        ps = add("pass", f"{p['kind']}#{pi}", ops[0]["start"], ops[-1]["end"], pass_index=pi)
        windows.append(ps)
        for o in ops:
            os_ = add("op", o["name"], o["start"], o["end"], ps["id"], op=o["name"],
                      compile_ms=o["compile_ms"], compiles=o["compiles"])
            add("construct", o["name"], o["start"], o["construct_end"], os_["id"], op=o["name"])
            add("execute", o["name"], o["construct_end"], o["end"], os_["id"], op=o["name"])
    tr = report.get("trace") or {}

    def traced(t):
        return any(w["start"] <= t <= w["end"] for w in windows)

    for b in tr.get("batches", []):
        if traced(b["start"]):
            add("batch", b["name"], b["start"], b["end"], m=b)
    sqls = [add("sql", str(q["id"]), q["start"], q["end"], qe=None)
            for q in tr.get("sql", []) if q["end"] is not None and traced(q["start"])]
    for qe in tr.get("qes", []):
        ph = [a for k, (a, _) in qe["phases"].items() if k in DEPTH]
        t = min(ph, default=None)
        if t is None or not traced(t):
            continue
        host = [s for s in sqls if s["start"] <= t <= s["end"] and s["qe"] is None]
        if host:
            sql = min(host, key=lambda s: s["end"] - s["start"])
            sql["qe"], sql["kind"] = qe, qe["kind"]
        for k, (a, b) in qe["phases"].items():
            if k in DEPTH and b > a:
                add(k, k, a, b)
    stages = {}
    for st in tr.get("stages", []):
        stages.setdefault(st["id"], []).append(st)
    for j in tr.get("jobs", []):
        # a stage shared with a later job (skipped there) belongs to the
        # first job that lists it
        mine = [st for sid in j["stages"] for st in stages.pop(sid, [])]
        if j["end"] is None or not traced(j["start"]):
            continue
        js = add("job", str(j["id"]), j["start"], j["end"])
        for st in mine:
            if st["end"] > 0:
                add("stage", str(st["id"]), st["start"], st["end"], js["id"], m=st)
    stats.assign_parents(spans, DEPTH)
    stats.clip_to_parents(spans)
    return spans


def layer_self(spans):
    """{layer: self seconds} over the given spans."""
    own = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out = dict.fromkeys(LAYERS + ["harness"], 0.0)
    driver = {}  # op id -> [sched ms, queries ms] available for codegen

    def op_of(s):
        while s is not None and s["kind"] != "op":
            s = by_id.get(s["parent"])
        return s

    for s in spans:
        t = own[s["id"]]
        k = s["kind"]
        if k in ("pass", "op"):
            out["harness"] += t
        elif k == "stage":
            m = s["m"]
            task = m["task_ms"]
            if task > 0:
                sh = min(1.0, (m["shuffle_write_ns"] / 1e6 + m["fetch_wait_ms"]) / task)
                ov = max(0.0, min(1.0 - sh, (task - m["run_ms"]) / task))
            else:
                sh, ov = 0.0, 1.0
            out["shuffle"] += t * sh
            out["sched"] += t * ov
            out["exec"] += t * (1.0 - sh - ov)
        else:
            layer = LAYER[k]
            out[layer] += t
            if layer in ("sched", "queries"):
                o = op_of(s)
                if o is not None:
                    d = driver.setdefault(o["id"], [0.0, 0.0])
                    d[0 if layer == "sched" else 1] += t
    # Janino compiles run on the driver thread between the spans above;
    # move the measured compile time out of the driver-side self time
    for oid, (sched_ms, queries_ms) in driver.items():
        c = min(by_id[oid]["compile_ms"], sched_ms + queries_ms)
        from_sched = min(c, sched_ms)
        out["sched"] -= from_sched
        out["queries"] -= c - from_sched
        out["codegen"] += c
    return {k: v / 1e3 for k, v in out.items()}


def pass_metrics(report, spans, pass_index, cpus):
    """Per-layer counters and self times of one traced pass."""
    p = report["passes"][pass_index]
    root = next(s for s in spans if s["kind"] == "pass" and s["pass_index"] == pass_index)
    by_id = {s["id"]: s for s in spans}

    def under(s):
        while s is not None:
            if s["id"] == root["id"]:
                return True
            s = by_id.get(s["parent"])
        return False

    mine = [s for s in spans if under(s)]
    of = lambda k: [s for s in mine if s["kind"] == k]
    stages = [s["m"] for s in of("stage")]
    qes = [s["qe"] for s in mine if s["kind"] in ("memo", "write", "query") and s.get("qe")]
    batches = [s["m"] for s in of("batch")]
    op_ms = sum(o["end"] - o["start"] for o in p["ops"])
    construct_ids = {s["id"] for s in of("construct")}

    def in_construct(s):
        while s is not None:
            if s["id"] in construct_ids:
                return True
            s = by_id.get(s["parent"])
        return False

    sumk = lambda xs, k: sum(x[k] for x in xs)
    census = lambda k: sum((q.get("census") or {}).get(k, 0) for q in qes)
    phase = lambda k: sum(s["end"] - s["start"] for s in of(k)) / 1e3
    task_ms = sumk(stages, "task_ms")
    bdur = [(b["end"] - b["start"]) / 1e3 for b in of("batch")]
    bp = stats.tail_pct(len(bdur)) if bdur else 50
    starts = [s for s in (report.get("trace") or {}).get("stream_starts", [])
              if root["start"] <= s["time"] <= root["end"]]
    selfs = layer_self(mine)
    m = {
        "queries.construct_s": sum(s["end"] - s["start"] for s in of("construct")) / 1e3,
        "queries.eager_jobs": sum(1 for s in of("job") if in_construct(s)),
        "plans.analysis_s": phase("analysis"),
        "plans.optimizer_s": phase("optimization"),
        "plans.physical_s": phase("planning"),
        "plans.exchanges": census("exchanges"),
        "plans.sort_aggregates": census("sort_aggregates"),
        "plans.smj_joins": census("smj_joins"),
        "plans.bhj_joins": census("bhj_joins"),
        "plans.non_codegen_nodes": census("non_codegen_nodes"),
        "sched.jobs": len(of("job")),
        "sched.stages": len(stages),
        "sched.tasks": sumk(stages, "tasks"),
        "sched.task_overhead_s": (task_ms - sumk(stages, "run_ms")) / 1e3,
        "sched.core_util": task_ms / (cpus * op_ms) if op_ms else 0.0,
        "exec.run_s": sumk(stages, "run_ms") / 1e3,
        "exec.cpu_s": sumk(stages, "cpu_ns") / 1e9,
        "exec.gc_s": sumk(stages, "gc_ms") / 1e3,
        "exec.peak_mem_mb": max([s["peak_mem_b"] for s in stages] or [0]) / MB,
        "shuffle.write_mb": sumk(stages, "shuffle_write_b") / MB,
        "shuffle.read_mb": sumk(stages, "shuffle_read_b") / MB,
        "shuffle.write_s": sumk(stages, "shuffle_write_ns") / 1e9,
        "shuffle.fetch_wait_s": sumk(stages, "fetch_wait_ms") / 1e3,
        "shuffle.spill_mb": sumk(stages, "spill_b") / MB,
        "scan.input_mb": sumk(stages, "input_b") / MB,
        "scan.input_rows": sumk(stages, "input_rows"),
        "commit.files": sum(q.get("files", 0) for q in qes),
        "commit.output_mb": sumk(stages, "output_b") / MB,
        "commit.task_commit_s": sum(q.get("task_commit_ms", 0) for q in qes) / 1e3,
        "commit.job_commit_s": sum(q.get("job_commit_ms", 0) for q in qes) / 1e3,
        "memo.artifacts": p["memo_artifacts"],
        "memo.mb": p["memo_mb"],
        "cache.left_mb": p["cache_left_mb"],
        "stream.batches": len(batches),
        "stream.add_batch_s": sumk(batches, "add_batch_ms") / 1e3,
        "stream.wal_commit_s": sumk(batches, "wal_commit_ms") / 1e3,
        "stream.commit_offsets_s": sumk(batches, "commit_offsets_ms") / 1e3,
        "stream.query_planning_s": sumk(batches, "query_planning_ms") / 1e3,
        "stream.state_commit_s": sumk(batches, "state_commit_ms") / 1e3,
        "stream.state_rows": sumk(batches, "state_rows"),
        "stream.extra_starts": len(starts) - len({s["id"] for s in starts}),
        "stream.batch_p50_s": stats.percentile(bdur, 50) if bdur else 0.0,
        "stream.batch_tail_s": stats.percentile(bdur, bp) if bdur else 0.0,
        "stream.rows_per_s": sumk(batches, "rows") / sum(bdur) if sum(bdur) else 0.0,
    }
    for k in LAYERS:
        m[f"self.{k}_s"] = selfs[k]
    m["trace.coverage"] = sum(selfs[k] for k in LAYERS) / (op_ms / 1e3) if op_ms else 0.0
    return m
