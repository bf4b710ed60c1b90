"""Per-layer metrics of a traced run, computed from its spans.

A span covers one call the benchmark makes into graft; its jobs and task
metrics are those Spark attributed to the span's job group. An operation is
a top-level span named op:<kind>; its layer spans are named
graft.<layer>:<call>.
"""

import statistics

import stats

MB = 1e6

# Layers that run inside another layer's calls and have no boundary the
# benchmark can wrap from outside.
UNSEPARATED = [
    "graft.score: scoring runs inside the graft.query spans (query.*)",
    "graft.analysis: tokenizing runs inside index.stage.docstats_s/"
    "postings_s and inside query driver time",
]


class Trace:
    def __init__(self, spans):
        self.spans = spans
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += self.kids.get(x["id"], [])
        return out

    def roll(self, s):
        """Duration, jobs, summed task metrics and JVM GC of a span and its
        descendants, all in seconds, bytes or counts."""
        sub = self.subtree(s)
        jobs = [j for x in sub for j in x["jobs"]]
        dur = (s["end_ms"] - s["start_ms"]) / 1e3
        busy = stats.covered(jobs, s["start_ms"], s["end_ms"]) / 1e3
        m = {k: sum(x["metrics"][k] for x in sub) for k in s["metrics"]}
        return {
            "dur": dur, "jobs": len(jobs), "job_s": busy,
            "driver_s": dur - busy, "gc_s": s["gc_ms"] / 1e3,
            "self_s": dur - stats.covered(
                [(k["start_ms"], k["end_ms"]) for k in self.kids.get(s["id"], [])],
                s["start_ms"], s["end_ms"]) / 1e3,
            "tasks": m["tasks"], "cpu_s": m["cpu_ns"] / 1e9,
            "input_mb": m["input_bytes"] / MB, "input_rows": m["input_rows"],
            "shuffle_mb": m["shuffle_write_bytes"] / MB,
            "spill_mb": m["spill_bytes"] / MB,
            "written_mb": m["output_bytes"] / MB,
        }

    def named(self, name, parent_name):
        """Spans called `name` whose parent is called `parent_name`."""
        by_id = {s["id"]: s for s in self.spans}
        return [s for s in self.spans if s["name"] == name
                and by_id.get(s["parent"], {}).get("name") == parent_name]

    def ops(self, prefix):
        return [s for s in self.spans if s["parent"] == -1 and s["name"].startswith(prefix)]


def mean(xs):
    return sum(xs) / len(xs)


def per_layer(raw):
    """({name: (value, unit)}, note lines) for a traced run."""
    t = Trace(raw["spans"])
    f = raw["facts"]
    s = raw["samples"]
    m = {}

    builds = [t.roll(x) for x in t.named("graft.index:build", "setup")]
    blocks = [t.roll(x) for x in t.named("graft.index:buildBlocks", "setup")]
    m["index.build_s"] = (statistics.median([b["dur"] for b in builds]), "s")
    for st in ("docstats", "postings", "termdict", "fieldstats"):
        m[f"index.stage.{st}_s"] = (f[f"index.stage.{st}_s"], "s")
    m["index.blocks_s"] = (statistics.median([b["dur"] for b in blocks]), "s")
    m["index.build.jobs"] = (mean([b["jobs"] for b in builds]), "count")
    m["index.build.shuffle_write_mb"] = (mean([b["shuffle_mb"] for b in builds]), "MB")
    m["index.build.gc_s"] = (mean([b["gc_s"] for b in builds]), "s")
    m["index.build.driver_s"] = (mean([b["driver_s"] for b in builds]), "s")

    for k in ("postings", "termdict", "blocks"):
        m[f"index.{k}.rows"] = (f[f"index.{k}.rows"], "count")
    for k in ("postings", "blocks", "termdict", "docstats"):
        m[f"index.disk.{k}_mb"] = (f[f"index.disk.{k}_mb"], "MB")

    appends = [t.roll(x) for x in t.ops("op:append")]
    vacuums = [t.roll(x) for x in t.ops("op:vacuum")]
    for k in ("append_s", "fold_s", "remove_s", "open_s", "vacuum_s"):
        m[f"index.{k}"] = (statistics.median(s[f"index.{k}"]), "s")
    m["index.append.jobs"] = (mean([a["jobs"] for a in appends]), "count")
    m["index.append.written_mb"] = (mean([a["written_mb"] for a in appends]), "MB")
    m["index.vacuum.jobs"] = (mean([v["jobs"] for v in vacuums]), "count")
    m["index.vacuum.written_mb"] = (mean([v["written_mb"] for v in vacuums]), "MB")

    for ex in ("bm25", "wand"):
        qs = [t.roll(x) for x in t.ops(f"op:{ex}.")]
        for k, unit in (("jobs", "count"), ("tasks", "count"), ("driver_s", "s"),
                        ("job_s", "s"), ("cpu_s", "s"), ("input_mb", "MB"),
                        ("input_rows", "count"), ("shuffle_mb", "MB")):
            m[f"query.{ex}.{k}"] = (mean([q[k] for q in qs]), unit)
        for shape in ("term", "hot", "or", "prefix", "and"):
            m[f"query.{ex}.{shape}.p50_s"] = (statistics.median(
                [q["dur"] for q in (t.roll(x) for x in t.ops(f"op:{ex}.{shape}"))]), "s")
    m["query.wand.survivor_ratio"] = (
        f["query.wand.survivors"] / f["query.wand.ranges"], "ratio")

    m["spark.gc_s"] = (f["spark.gc_s"], "s")
    untraced = s["untraced.bm25"] + s["untraced.wand"]
    traced = s["traced.bm25"] + s["traced.wand"]
    m["bench.trace_overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1, "ratio")

    everything = [t.roll(x) for x in t.spans if x["parent"] == -1]
    notes = [
        f"query.wand.fallback_frac {f['query.wand.fallbacks'] / f['query.wand.prepared']:.4f}"
        f" ratio ({f['query.wand.fallbacks']} of {f['query.wand.prepared']} queries)",
        f"spark.spill_mb {sum(x['spill_mb'] for x in everything):.3f} MB",
        f"spark.cache_mb {f['spark.cache_mb']:.3f} MB",
        f"bench.trace_overhead_frac from {len(traced)} queries run with and without spans",
    ] + ["not separable from outside: " + u for u in UNSEPARATED]
    return m, notes
