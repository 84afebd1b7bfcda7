"""The seeded op sequence of the txlog_rw workload.

One run is `load` (the initial append of all of orders), then writes and
reads alternating in a fixed order, then `vacuum`. Writes and reads come in
equal numbers, so a change that speeds one side at the cost of the other
shows in both latencies. The seed picks each op's key band or append slice;
the order stays fixed, because a seeded order moved run time by a fifth from
seed to seed (the first merge of a process is the slowest, and the change
feed reads more when merges precede it). Band arguments are fractions of the
base key span; the JVM side maps them to keys. History reads look a fixed
number of versions back (time travel 2, change feed 3).
"""
import random

WRITES = ["append", "merge", "update", "delete", "optimize"]
READS = ["scan", "pruned", "cdf", "timetravel", "stream"]
WRITE_VERBS = {"load", "append", "merge", "update", "delete", "optimize", "vacuum"}


def _step(verb, rng):
    if verb == "append":
        return f"append {rng.randrange(97)}"
    if verb in ("merge", "update", "delete", "pruned"):
        width = {"merge": 0.01, "update": 0.02, "delete": 0.01, "pruned": 0.05}[verb]
        lo = rng.uniform(0.0, 1.0 - width)
        return f"{verb} {lo:.4f} {lo + width:.4f}"
    return verb


def run_steps(rng):
    """One run's steps: each write followed by a read."""
    verbs = [v for pair in zip(WRITES, READS) for v in pair]
    return ["load"] + [_step(v, rng) for v in verbs] + ["vacuum"]


def txlog_plan(seed, runs=64):
    """`runs` runs of steps; the same seed always gives the same plan."""
    rng = random.Random(seed)
    return [run_steps(rng) for _ in range(runs)]


def plan_text(plan):
    return "".join("run\n" + "".join(s + "\n" for s in steps) for steps in plan)
