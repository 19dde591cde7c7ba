"""Arithmetic of the benchmark: percentiles, freshness, oracle mismatch and
the checks on the checkpoint and table logs. Pure functions of the raw
samples, so test_stats.py can pin them without a JVM."""

import collections
import json
import math
import os


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, beyond=10, floor_pct=90.0):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it, as (value, percentile, samples). Below `floor_pct` (fewer than
    beyond / (1 - floor_pct) samples) it is the maximum, percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    pct = 100.0 * (n - beyond) / n
    if pct < floor_pct:
        return s[-1], 100.0, n
    return s[n - beyond - 1], pct, n


def source_log(checkpoint):
    """File name -> batch id, from the file source's offset log
    (`sources/0/<batch>` and its `.compact` rollups; each entry names its
    batch)."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def freshness_ms(generated, sink_calls, file_batch):
    """Per generated file: from its due time to the return of the sink write
    of the batch that took it. `generated` rows are (name, due_us, actual_us);
    `sink_calls` rows (batch, start_us, end_us)."""
    end = {int(b): e for b, _, e in sink_calls}
    return [(end[file_batch[name]] - due) / 1000.0 for name, due, _ in generated]


def generator_late_ms(generated):
    return max((actual - due) / 1000.0 for _, due, actual in generated)


def files_per_batch_max(file_batch, names=None):
    c = collections.Counter(b for f, b in file_batch.items() if names is None or f in names)
    return max(c.values()) if c else 0


def mismatch(streamed, oracle):
    """Rows in one detection multiset and not the other (symmetric
    difference, counting multiplicity)."""
    a, b = collections.Counter(streamed), collections.Counter(oracle)
    return sum(((a - b) + (b - a)).values())


def group_sums(per_query, groups):
    """Seconds per group from per-query seconds; `groups` maps group ->
    query names. Queries missing from `per_query` add nothing."""
    return {g: sum(per_query.get(q, 0.0) for q in qs) for g, qs in groups.items()}


def check_batches(file_batch, released, per_source_rows, committed):
    """Exactly-once from the logs: every released file was admitted in
    exactly one batch, and each committed manifest holds exactly the rows of
    the files its batches admitted. `released` rows are (watch name, source
    name); `per_source_rows` maps a source file to its expected output rows
    (None skips the row check); `committed` rows are (batch ids, rows), one
    per manifest. Returns a list of problems."""
    problems = []
    names = [w for w, _ in released]
    missing = [w for w in names if w not in file_batch]
    if missing:
        problems.append("%d released files never admitted" % len(missing))
    extra = set(file_batch) - set(names)
    if extra:
        problems.append("%d admitted files were never released" % len(extra))
    batches = set(file_batch.values())
    ids = [b for bs, _ in committed for b in bs]
    if len(ids) != len(set(ids)):
        problems.append("a batch id is committed more than once")
    # a stateful query may also commit batches that admitted no file (a
    # watermark advance alone runs one), so admitted ⊆ committed
    if not batches <= set(ids):
        problems.append("%d batches admitted files but never committed" % len(batches - set(ids)))
    if per_source_rows is not None:
        src = dict(released)
        want = collections.Counter()
        for w, b in file_batch.items():
            want[b] += per_source_rows.get(src.get(w), 0)
        bad = [bs for bs, rows in committed if rows != sum(want[b] for b in bs)]
        if bad:
            problems.append("%d manifests commit a row count their files do not give" % len(bad))
    return problems


def self_times_ms(spans):
    """Span id -> self time in ms: the span's duration minus the part of it
    that its children cover (overlapping children count once)."""
    children = collections.defaultdict(list)
    for sp in spans:
        children[sp["parent"]].append((sp["start_us"], sp["end_us"]))
    out = {}
    for sp in spans:
        lo, hi = sp["start_us"], sp["end_us"]
        covered, edge = 0, lo
        for a, b in sorted(children.get(sp["id"], [])):
            a, b = max(a, edge), min(b, hi)
            if b > a:
                covered += b - a
                edge = b
        out[sp["id"]] = (hi - lo - covered) / 1000.0
    return out


def self_time_by_name(spans):
    """Summed self time in ms per span name."""
    by_id = self_times_ms(spans)
    out = collections.Counter()
    for sp in spans:
        out[sp["name"]] += by_id[sp["id"]]
    return dict(out)


def overhead_pct(untraced, traced):
    """How much lower the traced throughput is than the untraced one, in %."""
    return 100.0 * (untraced - traced) / untraced


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles with n=4)."""
    import statistics
    q = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q[2] - q[0]) / m if m else math.inf
