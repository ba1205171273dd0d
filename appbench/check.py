"""Output checks of the detector application benchmark.

Everything here compares the program's rows with the generator's
expectation (``expect.json``); nothing is derived from the program.

Operations are the expected n >= 2 coincidences of the delivered rounds.
An operation fails when its ASCII row or any of its MQTT rows is missing
from the standing application's sinks. Failing is allowed only for the
showers the generator marks as straddling an hour boundary, and every
row the application wrote beyond the expected ones must be a fragment of
such a shower. Anything else makes the run incorrect.
"""

import re
from collections import Counter

ASCII_RE = re.compile(r"Event: n=(\d+) (\d+)/(\d+) ([CV]) dt=(-?\d+)$")


def delivered_ops(expect, rounds):
    """Operations of rounds 0..`rounds`: round 0 rides in the warm-up
    file."""
    return [op for op in expect["ops"] if op["round"] <= rounds]


def drop_sentinel(expect, mqtt, ascii_rows):
    s = expect["sentinel"]
    return ([r for r in mqtt if not r[1].startswith(s["hex"])],
            [r for r in ascii_rows if r[0] < s["t_ns"]])


def check_stream(ops, mqtt, ascii_rows):
    """Returns (failed operations, errors) for the application's sink rows
    (lists of (uuid, msg)), sentinel rows already removed."""
    got_m, got_a = Counter(mqtt), Counter(ascii_rows)
    failed = []
    for op in ops:
        want_a = (op["uuid"], op["ascii"])
        want_m = Counter((op["uuid"], m) for m in op["mqtt"])
        if got_a[want_a] and all(got_m[k] >= c for k, c in want_m.items()):
            got_a[want_a] -= 1
            got_m.subtract(want_m)
        else:
            failed.append(op)
    errors = []
    bad = [op for op in failed if not op["straddle"]]
    if bad:
        op = bad[0]
        errors.append(f"{len(bad)} coincidence(s) not in the application's "
                      f"sinks, e.g. uuid {op['uuid']} {op['ascii']!r}")
    # rows left over must be fragments of a failed straddling shower
    members = {}
    for op in failed:
        if op["straddle"]:
            for m in op["mqtt"]:
                tok = m.split(" ")
                members[int(tok[-1])] = tok[0]
    extra_a = [r for r, c in got_a.items() for _ in range(c)]
    extra_m = [r for r, c in got_m.items() for _ in range(c)]
    for uuid, msg in extra_a:
        if uuid not in members:
            errors.append(f"ASCII row outside a marked straddle: {uuid} {msg!r}")
    for uuid, msg in extra_m:
        tok = msg.split(" ")
        if members.get(int(tok[-1])) != tok[0] or uuid not in members:
            errors.append(f"MQTT row outside a marked straddle: {uuid} {msg!r}")
    return failed, errors


def check_invariants(mqtt, ascii_rows):
    """Sink-level invariants that hold whatever the clustering did."""
    errors = []
    total_n = 0
    for uuid, msg in ascii_rows:
        m = ASCII_RE.match(msg)
        if not m:
            errors.append(f"malformed ASCII row {msg!r}")
            continue
        n, valid, pairs = int(m.group(1)), int(m.group(2)), int(m.group(3))
        total_n += n
        if pairs != n * (n - 1) // 2 or valid > pairs:
            errors.append(f"ASCII pair count out of range: {msg!r}")
    if total_n != len(mqtt):
        errors.append(f"sum of n over ASCII rows ({total_n}) != MQTT rows "
                      f"({len(mqtt)})")
    return errors


def check_dag(ops, dag, mqtt, ascii_rows):
    """The batch twin must equal the expectation exactly. `dag` holds
    detector_dag envelopes (start, end, n, n_stations, conflicting)."""
    errors = []
    want = {
        "detector_dag": Counter((o["uuid"], o["end"], o["n"], o["n_stations"],
                                 o["conflicting"]) for o in ops),
        "detector_dag_mqtt": Counter((o["uuid"], m) for o in ops
                                     for m in o["mqtt"]),
        "detector_dag_ascii": Counter((o["uuid"], o["ascii"]) for o in ops),
    }
    got = {"detector_dag": Counter(dag), "detector_dag_mqtt": Counter(mqtt),
           "detector_dag_ascii": Counter(ascii_rows)}
    for q, w in want.items():
        g = got[q]
        if g != w:
            missing, extra = w - g, g - w
            errors.append(f"{q}: {sum(missing.values())} expected rows missing "
                          f"(e.g. {next(iter(missing), None)}), "
                          f"{sum(extra.values())} unexpected "
                          f"(e.g. {next(iter(extra), None)})")
    return errors


def expected_counts(expect, first, last):
    """Lines in, parse-passing and gate-passing rows of rounds first..last."""
    files = [f for f in expect["files"] if first <= f["round"] <= last]
    return dict(
        source=sum(f["lines"] for f in files),
        parse=sum(f["parse_out"] for f in files),
        gate=sum(f["gate_out"] for f in files))
