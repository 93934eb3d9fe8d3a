"""Pure helpers of the graftbench harness: the workload table, the
statistics, the output normalization and the call-site attribution.

Nothing here starts a process or touches the file system, so
`test_benchlib.py` covers it directly.
"""
import math
import re
import statistics

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents"]

# The workloads. Each lists the registered queries it times, by family
# (see query_p50), and the tables its set-up loads (the tables those
# queries' oracles read). `pass_s` is one warm pass at the commit that defined the benchmark, on a
# 4-core machine; it fixes how many passes a run of --seconds makes.
WORKLOADS = {
    "graph-iter": {
        "why": "iterative graph operators (PageRank, k-core, connected components): "
               "one driver round trip per round, data size hardly matters",
        "families": {"iterative": ["q134_pagerank", "q144_kcore", "q298_lsh_components"]},
        "tables": ["events", "documents"],
        "pass_s": 8.5,
    },
    "w1w2-relational": {
        "why": "the paper's W1 TF-IDF and W2 ALS queries (executor CPU, shuffle, MLlib fits) "
               "beside sub-second relational queries and file round trips (fixed per-query cost)",
        "families": {"w1w2": ["q50_w1_tfidf_topk", "q76_als_invariants"],
                     "relational": ["q01_pricing_summary", "q05_join_revenue", "q117_csv_roundtrip"]},
        "tables": ["region", "nation", "customer", "orders", "lineitem", "events"],
        "pass_s": 8.0,
    },
}


def queries(workload):
    """The workload's queries, family by family."""
    return [q for qs in WORKLOADS[workload]["families"].values() for q in qs]


def family_p50(samples, families):
    """{family: median latency}: each query's median over its samples, given
    as (query, seconds) pairs, then the median over the family's queries."""
    per_query = {}
    for q, sec in samples:
        per_query.setdefault(q, []).append(sec)
    return {f: statistics.median(statistics.median(per_query[q]) for q in qs)
            for f, qs in families.items()}


def query_p50(family_medians):
    """query_p50_s: the geometric mean of the family medians, so that a
    workload that mixes slow and fast families moves with either."""
    return statistics.geometric_mean(family_medians.values())


def tail_percentile(samples, beyond=10):
    """(p, value): the highest whole percentile p whose nearest-rank value
    still has at least `beyond` samples ranked above it."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    xs = sorted(samples)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)  # 1-based nearest rank
        if n - rank >= beyond:
            return p, xs[rank - 1]
    return 0, xs[0]


# ---- output normalization (the rules of dev/check.py) ----

def norm(v):
    """A cell as the oracle compare sees it: floats to 9 places, NaN as text."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def compare_frames(got, exp):
    """None when two pandas frames hold the same rows (as sets, columns by
    name), else a one-line reason."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    g = sorted(repr(tuple(norm(v) for v in r)) for r in got[gc].itertuples(index=False))
    e = sorted(repr(tuple(norm(v) for v in r)) for r in exp[ec].itertuples(index=False))
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return f"values differ, e.g. {bad[:2]}"
    return None


# ---- call-site attribution ----

_FRAME = re.compile(r"^(graft(?:\.[\w$]+)*)\.([\w$]+)\(([\w$]+)\.scala:(\d+)\)$")


def parse_frame(line):
    """(module, site) of one `graft.*` stack frame, or None.

    The module is the frame's package below `graft` plus its source file:
    `graft.ops.Graph$.pageRank(Graph.scala:120)` -> `ops.Graph`. Frames of
    the harness itself (`graftbench.*`) and other classes are None."""
    m = _FRAME.match(line.strip())
    if not m:
        return None
    cls, _method, file, lineno = m.groups()
    pkg = cls.split(".")[1:-1]
    return ".".join(pkg + [file]), f"{file}.scala:{lineno}"


def attribute(frames, exec_frames=()):
    """Module of one Spark job: its call site's first graft frame, else the
    first graft frame of its SQL execution's call site (jobs that run on
    broadcast or other pool threads carry no graft frame of their own).
    `harness` when only harness frames are present, else `other`."""
    for stack in (frames, exec_frames):
        for line in stack:
            parsed = parse_frame(line)
            if parsed:
                return parsed[0]
    if any(line.startswith("graftbench.") for line in list(frames) + list(exec_frames)):
        return "harness"
    return "other"


def site_key(frames, exec_frames=()):
    """The chain of graft frames that issued a job, with consecutive repeats
    (recursion) collapsed: equal keys mean the same call path, so repeats
    of one key within a query are rounds of one loop."""
    stack = [f for f in frames if parse_frame(f)] or [f for f in exec_frames if parse_frame(f)]
    key = []
    for f in stack:
        site = parse_frame(f)[1]
        if not key or key[-1] != site:
            key.append(site)
    return tuple(key)


def module_group(module):
    """Report bucket of a module: `ops.Graph` and `ops.Dedup` on their own
    (the iterative operators), else the top package."""
    if module in ("ops.Graph", "ops.Dedup"):
        return module
    return module.split(".")[0]


def iter_rounds(jobs):
    """(rounds, loop_jobs) of one query from its ops jobs, given as
    (site_key, action_id) pairs: a round is one action (SQL execution or
    plain job) issued from a repeated ops call site; rounds is the highest
    repeat count of any one site, loop_jobs the jobs of all repeated sites."""
    actions, counts = {}, {}
    for key, action in jobs:
        actions.setdefault(key, set()).add(action)
        counts[key] = counts.get(key, 0) + 1
    repeated = [k for k, a in actions.items() if len(a) > 1]
    if not repeated:
        return 0, 0
    return max(len(actions[k]) for k in repeated), sum(counts[k] for k in repeated)
