"""Summary statistics and span arithmetic for the benchmark's results."""
import statistics


def median(xs):
    """Median of xs, 0.0 for an empty sequence."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quartile_spread(xs):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(list(xs), n=4)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self seconds}: each span's duration minus the part of
    its interval covered by its children (clipped to the span).

    spans: iterable of (id, parent, name, op, start, end)."""
    spans = list(spans)
    children = {}
    for sid, parent, _name, _op, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _parent, _name, _op, s, e in spans:
        kids = [(max(s, cs), min(e, ce)) for cs, ce in children.get(sid, ())
                if ce > s and cs < e]
        out[sid] = (e - s) - union_length(kids)
    return out


def layer_class(name):
    """Span name -> the layer its self time is reported under:
    per-query spans fold into queries.construct / queries.count."""
    if name.startswith("queries."):
        return "queries." + name.rsplit(".", 1)[1]
    return name


def self_time_by_layer(spans, ops):
    """{layer: median over `ops` of that layer's summed self time in the op}."""
    spans = [s for s in spans if s[3] in ops]
    st = self_times(spans)
    per_op = {}
    for sid, _parent, name, op, _s, _e in spans:
        d = per_op.setdefault(layer_class(name), {})
        d[op] = d.get(op, 0.0) + st[sid]
    return {layer: median(by_op.get(o, 0.0) for o in ops)
            for layer, by_op in per_op.items()}


def uncovered(window, spans):
    """Seconds of the measured window that no top-level span covers."""
    w0, w1 = window
    tops = [(max(w0, s), min(w1, e)) for _id, parent, _n, _op, s, e in spans
            if parent == 0 and e > w0 and s < w1]
    return (w1 - w0) - union_length(tops)


def count_failures(ops, check_failures):
    """(attempted, failed): an operation fails when it threw or when any
    of its outputs failed the check; `check_failures` maps op index to
    the number of wrong outputs found for it."""
    failed = sum(1 for op in ops
                 if op.get("error") or check_failures.get(op["i"], 0) > 0)
    return len(ops), failed
