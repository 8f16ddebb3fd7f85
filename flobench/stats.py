"""Summary statistics and the BENCHMARK.json shape rules."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH_RE = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")
MIN_BEYOND = 10


def median(xs):
    """Median; the mean of the two middle values for an even count."""
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, q):
    """Nearest-rank `q`-th percentile (0 < q < 100), or None when fewer than
    MIN_BEYOND samples lie beyond it: a tail figure needs a tail to stand on."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(xs)
    rank = math.ceil(q / 100 * n)
    if n - rank < MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def is_name(s):
    return isinstance(s, str) and bool(NAME_RE.match(s))


def is_unit(s):
    return isinstance(s, str) and bool(UNIT_RE.match(s))


def benchmark_problems(doc):
    """Every way `doc` (a parsed BENCHMARK.json) breaks the shape rules."""
    problems = []

    def need(ok, what):
        if not ok:
            problems.append(what)

    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    need(isinstance(doc, dict) and set(doc) == keys, f"keys must be exactly {sorted(keys)}")
    if problems:
        return problems
    cmd, paths = doc["command"], doc["paths"]
    need(isinstance(cmd, list) and 1 <= len(cmd) <= 32
         and all(isinstance(c, str) and 0 < len(c) <= 200 for c in cmd),
         "command: 1 to 32 strings of at most 200 characters")
    need(isinstance(paths, list) and 1 <= len(paths) <= 16, "paths: 1 to 16 entries")
    for p in paths if isinstance(paths, list) else []:
        need(isinstance(p, str) and bool(PATH_RE.match(p)) and not p.startswith("/")
             and ".." not in p.split("/"), f"path {p!r} is not a plain relative path")
    for c in cmd if isinstance(cmd, list) else []:
        need(not str(c).startswith("/") and ".." not in str(c).split("/"),
             f"command argument {c!r} leaves the checkout")
    rs = doc["run_seconds"]
    need(isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60,
         "run_seconds: a whole number from 1 to 60")

    names = []
    wls = doc["workloads"]
    need(isinstance(wls, list) and 2 <= len(wls) <= 8, "workloads: 2 to 8")
    for w in wls if isinstance(wls, list) else []:
        need(isinstance(w, dict) and set(w) == {"name", "why"}, f"workload {w!r}: name and why only")
        if isinstance(w, dict):
            names.append(w.get("name"))
            why = w.get("why")
            need(isinstance(why, str) and 0 < len(why) <= 200 and "\n" not in why,
                 f"workload {w.get('name')!r}: why must be one line of at most 200 characters")

    metric_names = []
    for section, lo, hi, keys in (("end_to_end", 1, 16, {"name", "unit", "better", "bound"}),
                                  ("per_layer", 1, 128, {"name", "unit", "better"})):
        ms = doc[section]
        need(isinstance(ms, list) and lo <= len(ms) <= hi, f"{section}: {lo} to {hi} metrics")
        for m in ms if isinstance(ms, list) else []:
            need(isinstance(m, dict) and set(m) == keys, f"{section} {m!r}: keys {sorted(keys)}")
            if not isinstance(m, dict):
                continue
            metric_names.append(m.get("name"))
            need(is_unit(m.get("unit")), f"{m.get('name')}: bad unit {m.get('unit')!r}")
            need(m.get("better") in ("lower", "higher"), f"{m.get('name')}: better is lower or higher")
            if section == "end_to_end":
                b = m.get("bound")
                need(isinstance(b, (int, float)) and not isinstance(b, bool) and 0 < b <= 0.25,
                     f"{m.get('name')}: bound in (0, 0.25]")
    e2e = {m.get("name"): m for m in doc["end_to_end"] if isinstance(m, dict)}
    setup = e2e.get("setup_s")
    need(setup is not None and setup.get("unit") == "s" and setup.get("better") == "lower",
         "end_to_end must hold setup_s in s, lower is better")
    if setup is not None:
        need(all(m.get("bound", 0) <= setup.get("bound", 0) for m in e2e.values()),
             "setup_s must have the largest bound")
    all_names = names + metric_names
    need(all(is_name(n) for n in all_names), "every name: a letter or digit, then up to 63 of [A-Za-z0-9_.-]")
    need(len(set(all_names)) == len(all_names), "every name is used once")
    return problems
