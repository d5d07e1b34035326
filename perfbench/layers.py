"""Span tree, self times and per-layer metrics of one traced benchmark run.

The JVM side (``graft.perfbench.Trace``) records raw spans and listener
records; this module turns them into one tree:

* benchmark spans (run, pass, operation, the calls inside an operation)
  keep the parent they were recorded with;
* stream micro-batches hang under the deepest benchmark span that
  contains their start;
* Spark jobs hang under the span whose id they carry (refined to the
  micro-batch that contains them), stages under their job;
* Catalyst phases hang under the deepest benchmark span or micro-batch
  that contains their start.

Each span is clipped to its parent. At any instant the time belongs to
the deepest span open then, and among open siblings to the one that
started last, so the self times of all spans partition the root span:
they sum to its wall time exactly.
"""
import statistics

LAYERS = ["bench", "pipeline", "sources", "operators", "streaming", "catalyst",
          "spark.job", "spark.stage"]
MODULES = ["Relational", "Stats", "SqlDml", "TextAnalysis", "Analytics", "Dedup",
           "Similarity", "Multimodal", "Misc"]
# Spans of the two phases of an operation: the entry-point call (with the
# eager work it does) and the forced execution of what it returned.
CONSTRUCT = {"pipeline.lut_build", "pipeline.plan", "operators.construct", "streaming.construct"}
EXECUTE = {"sources.jsonl_write", "operators.execute", "streaming.execute"}
# Layers of the workloads' entry points, summed by ``self.entry_s``.
ENTRY = ("pipeline", "sources", "operators", "streaming")
STREAM_PHASES = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                 "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
                 "commit_offsets_ms": "commitOffsets"}


class Node:
    __slots__ = ("key", "name", "layer", "start", "end", "parent", "children", "rec", "self_us")

    def __init__(self, key, name, layer, start, end, rec=None):
        self.key, self.name, self.layer = key, name, layer
        self.start, self.end = start, max(start, end)
        self.parent, self.children, self.rec, self.self_us = None, [], rec or {}, 0

    def adopt(self, child):
        child.parent = self
        self.children.append(child)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    @property
    def dur(self):
        return self.end - self.start


def _deepest(node, t, kinds):
    """Deepest descendant of ``node`` (of a layer in ``kinds``) open at ``t``."""
    for c in node.children:
        if c.layer in kinds and c.start <= t <= c.end:
            return _deepest(c, t, kinds)
    return node


def _clip(node):
    for c in node.children:
        c.start = min(max(c.start, node.start), node.end)
        c.end = min(max(c.end, c.start), node.end)
        _clip(c)


def _length(iv):
    return sum(e - s for s, e in iv)


def _subtract(iv, cut):
    """Interval list ``iv`` minus the single interval ``cut``."""
    out = []
    for s, e in iv:
        if cut[1] <= s or cut[0] >= e:
            out.append((s, e))
            continue
        if s < cut[0]:
            out.append((s, cut[0]))
        if cut[1] < e:
            out.append((cut[1], e))
    return out


def _intersect(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def _attribute(node, owned):
    """Give ``node`` the part of ``owned`` its children do not take."""
    taken = []
    rest = list(owned)
    # later-started siblings win the time they overlap with earlier ones
    for c in sorted(node.children, key=lambda c: (c.start, c.key), reverse=True):
        mine = _intersect(rest, c.start, c.end)
        for piece in mine:
            rest = _subtract(rest, piece)
        taken.append((c, mine))
    node.self_us = _length(rest)
    for c, mine in taken:
        _attribute(c, mine)


def build_tree(trace):
    """The root ``run`` span with every record attached under it."""
    bench = {s["id"]: Node(("span", s["id"]), s["name"], s["layer"], s["start"], s["end"], s)
             for s in trace["spans"]}
    roots = [n for n in bench.values() if n.name == "run" and n.rec["parent"] == 0]
    if len(roots) != 1:
        raise ValueError(f"expected one root span, found {len(roots)}")
    root = roots[0]
    for s in sorted(trace["spans"], key=lambda s: s["id"]):
        if s["parent"] in bench:
            bench[s["parent"]].adopt(bench[s["id"]])
    inside = lambda r: root.start <= r["start"] <= root.end

    spans = {"bench", "pipeline", "sources", "operators", "streaming"}
    for i, b in enumerate(sorted(filter(inside, trace["batches"]), key=lambda b: b["start"])):
        _deepest(root, b["start"], spans).adopt(
            Node(("batch", i), "streaming.batch", "streaming.batch", b["start"], b["end"], b))
    jobs = {}
    for j in sorted(trace["jobs"], key=lambda j: j["start"]):
        owner = bench.get(j["span"])
        if owner is None:
            continue
        node = Node(("job", j["id"]), "spark.job", "spark.job", j["start"], j["end"], j)
        _deepest(owner, j["start"], {"streaming.batch"}).adopt(node)
        jobs[j["id"]] = node
    for st in trace["stages"]:
        if st["job"] in jobs:
            jobs[st["job"]].adopt(Node(("stage", st["id"]), "spark.stage", "spark.stage",
                                       st["start"], st["end"], st))
    for i, p in enumerate(filter(inside, trace["phases"])):
        _deepest(root, p["start"], spans | {"streaming.batch"}).adopt(
            Node(("phase", i), f"catalyst.{p['name']}", "catalyst", p["start"], p["end"], p))
    _clip(root)
    _attribute(root, [(root.start, root.end)])
    return root


def layer_of(node):
    return "streaming" if node.layer == "streaming.batch" else node.layer


def self_times(root):
    """Self time per layer, in microseconds; sums to the root's duration."""
    out = dict.fromkeys(LAYERS, 0)
    for n in root.walk():
        out[layer_of(n)] += n.self_us
    return out


def _under(node, layer):
    return [n for n in node.walk() if n.layer == layer]


def per_op(root):
    """One record per operation span (a child of a pass)."""
    recs = []
    for i, p in enumerate(c for c in root.children if c.name == "pass"):
        for op in p.children:
            stages = _under(op, "spark.stage")
            phase = lambda names: [c for c in op.children if c.name in names]
            recs.append({
                "op": op.name, "pass": i, "s": op.dur / 1e6,
                "construct_s": sum(c.dur for c in phase(CONSTRUCT)) / 1e6,
                "execute_s": sum(c.dur for c in phase(EXECUTE)) / 1e6,
                "jobs": len(_under(op, "spark.job")),
                "construct_jobs": sum(len(_under(c, "spark.job")) for c in phase(CONSTRUCT)),
                "stages": len(stages), "tasks": sum(s.rec["tasks"] for s in stages),
                "executor_run_s": sum(s.rec["run_ms"] for s in stages) / 1e3,
                # wall time during which no stage of the operation was running
                "non_executor_s": (op.dur - sum(s.self_us for s in stages)) / 1e6,
                "shuffle_bytes": sum(s.rec["shuffle_read"] + s.rec["shuffle_write"] for s in stages),
                "spill_bytes": sum(s.rec["spill"] for s in stages),
                "planning_ms": sum(n.dur for n in _under(op, "catalyst")) / 1e3,
                "batches": len(_under(op, "streaming.batch"))})
    return recs


def layer_metrics(result, modules):
    """Every per-layer metric of a traced run, 0 where a workload does not
    touch the layer. ``modules`` maps each operation to its module.

    Per-pass figures are totals over the traced passes divided by their
    number. The ``op.*`` metrics split every workload's operations into
    the entry-point call and the forced execution; the ``pipeline.*``,
    ``sources.*``, ``operators.*`` and ``streaming.*`` ones break a single
    workload down by the engine module it calls."""
    root = build_tree(result["trace"])
    passes = [c for c in root.children if c.name == "pass"]
    n = len(passes)
    cores = result["cores"]
    m = {"session.start_s": result["session_start_s"]}

    spans = lambda name: [x for x in root.walk() if x.name == name]
    per_pass = lambda xs: sum(xs) / n
    for metric, name in [("pipeline.lut_build_s", "pipeline.lut_build"),
                         ("pipeline.plan_s", "pipeline.plan"),
                         ("sources.jsonl_write_s", "sources.jsonl_write")]:
        m[metric] = per_pass(x.dur / 1e6 for x in spans(name))
    probes = result.get("probes", {})
    m["sources.json_scan_s"] = probes.get("json_scan_s", 0.0)
    m["pipeline.transform_exec_s"] = max(0.0, probes.get("transform_s", 0.0) - m["sources.json_scan_s"])

    ops = per_op(root)
    construct, execute = sum(o["construct_s"] for o in ops), sum(o["execute_s"] for o in ops)
    m["op.construct_s"] = construct / n
    m["op.execute_s"] = execute / n
    m["op.construct_share"] = construct / (construct + execute)
    m["op.jobs"] = statistics.fmean(o["jobs"] for o in ops)
    m["op.construct_jobs"] = statistics.fmean(o["construct_jobs"] for o in ops)
    board = [o for o in ops if modules.get(o["op"]) in MODULES]
    construct = sum(o["construct_s"] for o in board)
    execute = sum(o["execute_s"] for o in board)
    m["operators.construct_s"] = construct / n
    m["operators.execute_s"] = execute / n
    m["operators.construct_jobs"] = statistics.fmean([o["construct_jobs"] for o in board]) if board else 0.0
    m["operators.jobs_per_query"] = statistics.fmean([o["jobs"] for o in board]) if board else 0.0
    m["operators.construct_share"] = construct / (construct + execute) if board else 0.0
    for mod in MODULES:
        m[f"operators.{mod}.s"] = per_pass(o["s"] for o in board if modules[o["op"]] == mod)

    batches = [b for b in root.walk() if b.layer == "streaming.batch"]
    m["streaming.batches"] = len(batches) / n
    for metric, key in STREAM_PHASES.items():
        m[f"streaming.{metric}"] = per_pass(b.rec["durations"].get(key, 0) for b in batches)
    replays = [op for p in passes for op in p.children if op.name.startswith("q_stream")]
    peak = lambda op, key: max([b.rec[key] for b in _under(op, "streaming.batch")], default=0)
    m["streaming.state_rows"] = per_pass(peak(op, "state_rows") for op in replays)
    m["streaming.state_memory_bytes"] = per_pass(peak(op, "state_memory_bytes") for op in replays)
    m["streaming.startup_s"] = statistics.fmean(
        [(op.dur - 1000 * sum(b.rec["durations"].get("triggerExecution", 0)
                              for b in _under(op, "streaming.batch"))) / 1e6
         for op in replays]) if replays else 0.0

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = per_pass(x.dur / 1e3 for x in spans(f"catalyst.{phase}"))

    jobs = _under(root, "spark.job")
    stages = _under(root, "spark.stage")
    st = lambda key: sum(s.rec[key] for s in stages)
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = len(stages) / n
    m["spark.tasks"] = st("tasks") / n
    m["spark.executor_run_s"] = st("run_ms") / 1e3 / n
    m["spark.executor_cpu_s"] = st("cpu_ns") / 1e9 / n
    m["spark.gc_s"] = st("gc_ms") / 1e3 / n
    m["spark.busy_share"] = st("run_ms") * 1e3 / (root.dur * cores)
    m["spark.single_task_stage_s"] = (
        sum(s.dur for s in stages if s.rec["tasks"] == 1) / 1e6 / n if cores > 1 else 0.0)
    m["spark.straggler_ratio"] = max(
        [s.rec["max_task_ms"] / max(1, s.rec["median_task_ms"]) for s in stages if s.rec["tasks"] > 1],
        default=1.0)
    for metric, key in [("shuffle_read_bytes", "shuffle_read"), ("shuffle_write_bytes", "shuffle_write"),
                        ("spill_bytes", "spill"), ("input_bytes", "input"), ("output_bytes", "output")]:
        m[f"spark.{metric}"] = st(key) / n

    m["jvm.heap_after_gc_peak_mb"] = result["heap_after_gc_peak_mb"]
    m["bench.calib_s"] = statistics.median(result["calib_s"])
    walls = lambda section: [p["s"] for p in result["passes"] if p["section"] == section]
    m["bench.tracing_overhead_s"] = statistics.median(walls("traced")) - statistics.fmean(
        [statistics.median(walls("timed")), statistics.median(walls("after"))])
    m["bench.traced_wall_s"] = root.dur / 1e6 / n
    selfs = self_times(root)
    for layer, us in selfs.items():
        m[f"self.{layer.replace('.', '_')}_s"] = us / 1e6 / n
    m["self.entry_s"] = sum(selfs[layer] for layer in ENTRY) / 1e6 / n
    return m
