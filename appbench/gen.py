"""Seeded input generator for the detector application benchmark.

One workload and one seed give one corpus:

  * ``staging/*.json``  the MQTT wire lines, one JSON object per line, split
    into the files the closed loop delivers (``warmup.json``, then
    ``rNNNN.json`` per round, then ``sentinel.json``);
  * ``events.parquet``  the hits of the warm-up file and the first
    ``DAG_ROUNDS`` rounds as an ``events`` table, which the batch twin
    (``DetectorApp.queries``) turns back into the same wire lines;
  * ``manifest.txt``    the delivery order, read by the JVM harness: the
    warm-up file, ``RAMP_ROUNDS`` untimed ramp rounds, the timed rounds and
    the sentinel;
  * ``expect.json``     the expected sink rows and stage counts.

The expectation comes from this file's own rules, never from the program:
the wire recipe of ``Wire.wireLines``, the parser's reject rules, the
per-station gate (S4 detector-info mask, R6 reliability fold with
hysteresis, R5 accept test), the 30 s gap sessions and the C1 criterion,
and the MQTT/ASCII sink formats.

Time layout. Round r covers event time [B_r - 3300 s, B_r + 300 s), where
B_r = T0 + (r + 1) h is an hour boundary. Every gated hit the round's
seeded draws place lies in [B_r - 3240 s, B_r - 120 s], so nothing seeded
sits near an hour boundary or a round edge. At B_r itself sits one fixed
shower that does not depend on the seed: four hits from four dedicated
stations, two on each side of the boundary. The standing application
clusters per one-hour bucket and emits it as two fragments; the batch
twin merges it. It is marked ``straddle`` and is the one operation per
round the application is expected to fail, so the failed share is exactly
1 / (showers per round + 1) for every seed and every run length.

Round 0 rides in the warm-up file together with every initial station's
six detector-info lines; every later round is one file of a fixed line
count.
"""

import functools
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

SEC_US = 1_000_000
HOUR_US = 3600 * SEC_US
T0_US = 1_704_067_200 * SEC_US          # 2024-01-01T00:00:00Z, hour aligned
GAP_NS = 30 * 10**9                       # Detector.GapNs
MIN_TOF_NS = 5 * 10**9                    # Geodesic.MinTofNs
MAX_TIME_NS = 60 * 10**9                  # Geodesic.MaxTimeNs
DETINFO = 6                               # DetectorApp.DetinfoFields
FULL_MASK = (1 << DETINFO) - 1
R5_MAX_TA = 500                           # DetectorApp.R5MaxTimeAcc
EXTREME_CENTS = 30000                     # StreamingRegistry.ExtremeCents
BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

SENTINEL = 999_999
SENTINEL_T_US = T0_US + 10_000_000 * SEC_US
STRADDLE_STATIONS = (1001, 1013, 1027, 1042)
STRADDLE_OFFSETS_US = (-1_500_000, -500_000, 500_000, 1_500_000)

# A round is one hour of event time and one file of round_lines lines.
# RAMP_ROUNDS rounds after the warm-up file (round 0) run untimed before the
# measured window. The timed rounds are enough to fill the window at one
# step per MIN_STEP_S, so the window ends by time, not by running out of
# input, while a step takes at least that long. The batch twin reads the
# warm-up file and the first DAG_ROUNDS rounds, a corpus whose size does
# not depend on the run length.
RAMP_ROUNDS = 6
MIN_STEP_S = 0.2
DAG_ROUNDS = 24

WORKLOADS = {
    # parse and gate do the work: thousands of station keys, most lines
    # rejected, sparse short showers
    "sparse_network": dict(stations=3000, round_lines=3000, showers=12,
                           singles=3, joiners=5),
    # clusterer, open-session state and sink fan-out do the work
    "dense_showers": dict(stations=100, round_lines=1800, showers=125),
}


def rounds_for(seconds):
    """Rounds to generate after the warm-up file for a --seconds window."""
    return max(DAG_ROUNDS, RAMP_ROUNDS + math.ceil(seconds / MIN_STEP_S))


class GenError(Exception):
    pass


class Rng:
    """The few seeded draws the generator needs, on one random.Random."""

    def __init__(self, seed):
        r = random.Random(seed)
        self.random, self.shuffle, self.sample = r.random, r.shuffle, r.sample

    def below(self, n):
        return int(self.random() * n)

    def between(self, a, b):
        return a + int(self.random() * (b - a + 1))

    def pick(self, seq):
        return seq[int(self.random() * len(seq))]


class Line:
    __slots__ = ("t", "st", "ta", "fix", "rej", "res", "kind", "eid")

    def __init__(self, t, st, ta, fix, kind, rej=None, res=None):
        self.t, self.st, self.ta, self.fix = t, st, ta, fix
        self.kind, self.rej, self.res, self.eid = kind, rej, res, None


# ---- rules shared by generation and the expectation -----------------------

def grid(st):
    """Station-key grid cell (Geodesic.stationLat/Lon/H inputs)."""
    return (st % 10, (st // 10) % 10, st % 7)


def lat_lon(st):
    return 50.0 + (st % 10) * 0.02, 10.0 + ((st // 10) % 10) * 0.03


def geohash(lat, lon, length):
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    out, is_lon, bit, ch = [], True, 0, 0
    while len(out) < length:
        if is_lon:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch, lon_lo = (ch << 1) | 1, mid
            else:
                ch, lon_hi = ch << 1, mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch, lat_lo = (ch << 1) | 1, mid
            else:
                ch, lat_hi = ch << 1, mid
        is_lon = not is_lon
        bit += 1
        if bit == 5:
            out.append(BASE32[ch])
            bit, ch = 0, 0
    return "".join(out)


def valid_edge(a, b):
    """C1 criterion on (station, start_ns) members. Only pairs whose answer
    needs no floating-point distance are allowed: inside the 5 s floor
    (always valid), beyond the 60 s cut (never), or at one grid cell
    (distance 0, so the window is exactly the floor)."""
    d = abs(a[1] - b[1])
    if d < MIN_TOF_NS:
        return True
    if d > MAX_TIME_NS or grid(a[0]) == grid(b[0]):
        return False
    raise GenError(f"pair {a} {b} needs the geodesic distance")


def fmt_time(ns):
    return f"{ns // 10**9}.{ns % 10**9:09d}"


def wire(line):
    """Wire.wireLines recipe: (topic, payload) of one events row."""
    eid, st, ns = line.eid, line.st, line.t * 1000
    topic = ("muonpi/data/cluster/st0" if eid % 89 == 0
             else f"muonpi/data/u{st}/st{st % 3}")
    f0 = ".12345678901234567" if eid % 97 == 0 else fmt_time(ns)
    f1 = fmt_time(ns + (eid % 1000) * 1000)
    return topic, f"{f0} {f1} {line.ta} {eid % 65536} {line.fix} 1 1"


def parse_ok(eid):
    return eid % 89 != 0 and eid % 97 != 0


class Gate:
    """Per-station S4 mask + R6 fold + R5 accept (DetectorApp.gateFold)."""

    def __init__(self):
        self.mask = 0
        self.n = 0
        self.sum = 0
        self.status = "created"

    def step(self, ublox, ta, fix):
        """Fold one parsed hit; returns None when forwarded, else the first
        failing reason."""
        self.mask |= 1 << (ublox % DETINFO)
        cents = ta * 10
        self.n += 1
        self.sum += cents
        ftime = (self.sum / 100.0 / self.n) / 50.0
        if cents > EXTREME_CENTS or ftime > 1.15:
            self.status = "unreliable"
        elif ftime < 0.85:
            self.status = "reliable"
        if self.mask != FULL_MASK:
            return "s4_mask"
        if self.status != "reliable":
            return "r6_reliability"
        if fix != 1 or ta > R5_MAX_TA:
            return "r5_accept"
        return None


@functools.lru_cache(maxsize=None)
def station_tag(st):
    """Hex key and truncated geohash an O3 row starts with."""
    la, lo = lat_lon(st)
    return f"{st:016x} {geohash(la, lo, 4 + st % 3)}"


def mqtt_msg(uuid, n, st, ns):
    """O3 sink row text of one member; the row's uuid is the cluster's."""
    return f"{station_tag(st)} {n} {ns - uuid} {ns}"


def ascii_msg(uuid, end, n, valid, conflicting):
    """O4 sink row text of one cluster."""
    return (f"Event: n={n} {valid}/{n * (n - 1) // 2} "
            f"{'C' if conflicting else 'V'} dt={end - uuid}")


def coincidences(gated):
    """Gated (station, start_ns) hits -> (sessions, components with n >= 2).
    The batch semantics: global 30 s gap sessions, criterion union-find
    inside each session."""
    gated = sorted(gated, key=lambda h: h[1])
    sessions, cur = [], []
    for h in gated:
        if cur and h[1] - cur[-1][1] > GAP_NS:
            sessions.append(cur)
            cur = []
        cur.append(h)
    if cur:
        sessions.append(cur)
    comps = []
    for s in sessions:
        parent = list(range(len(s)))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i
        edges = []
        # in a session at one grid cell every window is the 5 s floor
        reach = MIN_TOF_NS if len({grid(h[0]) for h in s}) == 1 \
            else MAX_TIME_NS + 1
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                if s[j][1] - s[i][1] >= reach:
                    break
                if valid_edge(s[i], s[j]):
                    edges.append(i)
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        groups, valid = {}, {}
        for i in range(len(s)):
            groups.setdefault(find(i), []).append(i)
        for i in edges:
            valid[find(i)] = valid.get(find(i), 0) + 1
        for root, idx in groups.items():
            if len(idx) > 1:
                comps.append(([s[i] for i in idx], valid[root]))
    return sessions, comps


# ---- corpus construction ---------------------------------------------------

class Corpus:
    def __init__(self, name, seed, rounds):
        if name not in WORKLOADS:
            raise GenError(f"unknown workload {name!r}")
        self.name, self.cfg, self.n_rounds = name, WORKLOADS[name], rounds
        self.rng = Rng(f"{name}:{seed}")
        self.used_t = set()
        self.rounds = []          # rounds[r] = list of Line

    def t(self, us):
        while us in self.used_t:
            us += 1
        self.used_t.add(us)
        return us

    def window(self, r):
        b = T0_US + (r + 1) * HOUR_US
        return b, b - 3300 * SEC_US, b + 300 * SEC_US

    def mask_lines(self, st, t_lo, t_hi, ta_lo, ta_hi, fix, residues):
        ts = sorted(t_lo + self.rng.below(t_hi - t_lo) for _ in residues)
        return [Line(self.t(t), st, self.rng.between(ta_lo, ta_hi), fix,
                     "detinfo", res=res) for t, res in zip(ts, residues)]

    def straddler(self, r):
        b, _, _ = self.window(r)
        return [Line(self.t(b + off), st, 50, 1, "straddle")
                for st, off in zip(STRADDLE_STATIONS, STRADDLE_OFFSETS_US)]

    def six(self):
        res = list(range(DETINFO))
        self.rng.shuffle(res)
        return res

    def pad(self, lines, r, count, makers):
        """Fill the round to its fixed line count with non-gated lines."""
        _, lo, hi = self.window(r)
        if count < 0:
            raise GenError(f"round {r} overflows its line budget by {-count}")
        for _ in range(count):
            lines.append(self.rng.pick(makers)(self.t(lo + self.rng.below(hi - lo))))

    # ---- sparse_network ----

    def build_sparse(self):
        c, rng = self.cfg, self.rng
        ids = rng.sample(range(10_000, 900_000),
                         c["stations"] + c["joiners"] * self.n_rounds)
        base, joiners = ids[:c["stations"]], ids[c["stations"]:]
        n_good = c["stations"] * 55 // 100
        n_r6 = c["stations"] * 20 // 100
        good = base[:n_good]
        r6 = base[n_good:n_good + n_r6]
        s4 = base[n_good + n_r6:]
        pre = []
        lo, hi = T0_US, T0_US + 300 * SEC_US
        for st in good:
            pre += self.mask_lines(st, lo, hi, 10, 300, 0, self.six())
        for st in STRADDLE_STATIONS:
            pre += self.mask_lines(st, lo, hi, 10, 300, 0, self.six())
        for st in r6:
            pre += self.mask_lines(st, lo, hi, 700, 2500, 1, self.six())
        for st in s4:
            pre += self.mask_lines(st, lo, hi, 10, 300, 1,
                                   [rng.below(5) for _ in range(DETINFO)])

        def parse_reject(t):
            return Line(t, rng.pick(base), rng.between(10, 300), 1, "noise",
                        rej=rng.pick(("cluster", "dot")))

        for r in range(self.n_rounds + 1):
            b, lo, hi = self.window(r)
            lines = self.straddler(r)

            def r5_fix(t):
                return Line(t, rng.pick(good), rng.between(10, 300), 0, "noise")

            def r5_acc(t):
                return Line(t, rng.pick(good), rng.between(501, 600), 1, "noise")

            def r6_line(t):
                ta = rng.between(3001, 4000) if rng.random() < 0.1 \
                    else rng.between(700, 2500)
                return Line(t, rng.pick(r6), ta, rng.between(0, 1), "noise")

            def s4_line(t):
                return Line(t, rng.pick(s4), rng.between(10, 300), 1, "noise",
                            res=rng.below(5))

            # seeded showers and gated singles, each in its own slot
            items = ["shower"] * c["showers"] + ["single"] * c["singles"]
            rng.shuffle(items)
            span_lo, span_hi = b - 3240 * SEC_US, b - 123 * SEC_US
            width = (span_hi - span_lo) // len(items)
            margin = 45 * SEC_US
            for k, item in enumerate(items):
                t0 = span_lo + k * width + margin + \
                    rng.below(width - 2 * margin - 3 * SEC_US)
                if item == "single":
                    lines.append(Line(self.t(t0), rng.pick(good),
                                      rng.between(10, 300), 1, "single"))
                    continue
                for st in rng.sample(good, rng.between(2, 8)):
                    lines.append(Line(self.t(t0 + rng.below(3 * SEC_US)),
                                      st, rng.between(10, 300), 1, "shower"))
                for _ in range(rng.between(0, 2)):
                    maker = rng.pick((r6_line, s4_line, parse_reject, r5_fix))
                    lines.append(maker(self.t(t0 + rng.below(3 * SEC_US))))
            # joiners: six detector-info lines (fix = 0, never forwarded);
            # every other one also sends a hit before its mask completes
            # (an S4 drop); they join the showers of later rounds
            new = joiners[r * c["joiners"]:(r + 1) * c["joiners"]] if r else []
            for j, st in enumerate(new):
                ml = self.mask_lines(st, lo, lo + 1500 * SEC_US, 10, 300, 0,
                                     self.six())
                lines += ml
                if j % 2 == 0:
                    t = (ml[2].t + ml[3].t) // 2
                    lines.append(Line(self.t(t), st, rng.between(10, 300), 1,
                                      "noise"))
            if r == 0:
                lines = pre + lines
                budget = c["round_lines"] + len(pre) - len(lines)
            else:
                budget = c["round_lines"] - len(lines)
            makers = [parse_reject] * 15 + [r5_fix] * 30 + [r5_acc] * 5 + \
                [r6_line] * 25 + [s4_line] * 25
            self.pad(lines, r, budget, makers)
            self.rounds.append(lines)
            good = good + new

    # ---- dense_showers ----

    def build_dense(self):
        c, rng = self.cfg, self.rng
        cell = rng.below(700)
        stations = [cell + 700 * k for k in range(1, c["stations"] + 1)]
        pre = []
        lo, hi = T0_US, T0_US + 300 * SEC_US
        for st in stations + list(STRADDLE_STATIONS):
            pre += self.mask_lines(st, lo, hi, 10, 300, 0, self.six())

        def parse_reject(t):
            return Line(t, rng.pick(stations), rng.between(10, 300), 1,
                        "noise", rej=rng.pick(("cluster", "dot")))

        def r5_fix(t):
            return Line(t, rng.pick(stations), rng.between(10, 300), 0, "noise")

        for r in range(self.n_rounds + 1):
            b, lo, hi = self.window(r)
            for _ in range(20):
                hits = self.burst(stations, b)
                if hits is not None and \
                        len(hits) + len(STRADDLE_STATIONS) <= c["round_lines"]:
                    break
            else:
                raise GenError(f"round {r}: burst does not fit the hour or the round")
            lines = self.straddler(r)
            lines += [Line(self.t(t), st, rng.between(10, 300), 1, "shower")
                      for t, st in hits]
            if r == 0:
                lines = pre + lines
                budget = c["round_lines"] + len(pre) - len(lines)
            else:
                budget = c["round_lines"] - len(lines)
            self.pad(lines, r, budget, [parse_reject, r5_fix])
            self.rounds.append(lines)

    def burst(self, stations, b):
        """One gap-session of showers a few seconds apart: consecutive
        showers are at least 5.6 s apart, beyond every edge window."""
        rng = self.rng
        t = b - 3240 * SEC_US + rng.below(30 * SEC_US)
        hits = []
        for _ in range(self.cfg["showers"]):
            if rng.random() < 2 / 3:
                n, step = rng.between(6, 24), (20_000, 200_000)
            else:
                n, step = rng.between(3, 6), (1_000_000, 3_000_000)
            sts = rng.sample(stations, n)
            if rng.random() < 0.1:
                sts.append(rng.pick(sts))
            for k, st in enumerate(sts):
                if k:
                    t += rng.between(*step)
                hits.append((t, st))
            t += rng.between(5_600_000, 7_000_000)
        return hits if t <= b - 123 * SEC_US else None

    # ---- ids, expectation and output ----

    def assign_ids(self, lines):
        """Event ids in time order. The id decides the wire rejects
        (id % 89 -> cluster topic, id % 97 -> leading-dot time) and the
        ublox counter (id % 65536), whose residue mod 6 is the detector-info
        field a line completes."""
        nid = 1
        for ln in lines:
            if ln.rej is None:
                while not (nid % 89 and nid % 97 and (
                        ln.res is None or nid % 65536 % DETINFO == ln.res)):
                    nid += 1
            else:
                m, other = (89, 97) if ln.rej == "cluster" else (97, 89)
                nid = -(-nid // m) * m
                while nid % other == 0:
                    nid += m
            ln.eid = nid
            nid += 1
        return nid


def sentinel_lines(first_id):
    """Six gate-passing sentinel hits far ahead in event time: the mask
    completes on the sixth, which reaches the clusterer and moves the
    watermark past every real session."""
    out, nid = [], first_id
    for k in range(DETINFO):
        while not (parse_ok(nid) and (nid % 65536) % DETINFO == k):
            nid += 1
        ln = Line(SENTINEL_T_US + k * 100 * SEC_US, SENTINEL, 1, 1, "sentinel")
        ln.eid = nid
        out.append(ln)
        nid += 1
    return out


def generate(name, seed, out_dir, rounds=DAG_ROUNDS):
    corpus = Corpus(name, seed, rounds)
    if name == "sparse_network":
        corpus.build_sparse()
    else:
        corpus.build_dense()
    cfg = corpus.cfg
    for lines in corpus.rounds:
        lines.sort(key=lambda ln: ln.t)
    every = [ln for lines in corpus.rounds for ln in lines]
    next_id = corpus.assign_ids(every)

    # gate simulation in delivery order (= event-time order per station)
    gates, rejects, gated = {}, {}, []
    files = [("warmup", 0, "warmup.json", corpus.rounds[0])] + [
        ("ramp" if r <= RAMP_ROUNDS else "round", r, f"r{r:04d}.json", lines)
        for r, lines in enumerate(corpus.rounds[1:], start=1)]
    file_stats = []
    for kind, r, fname, lines in files:
        p_out = g_out = 0
        for ln in lines:
            if not parse_ok(ln.eid):
                why = "parse_cluster_topic" if ln.eid % 89 == 0 \
                    else "parse_leading_dot"
                rejects[why] = rejects.get(why, 0) + 1
                continue
            p_out += 1
            why = gates.setdefault(ln.st, Gate()).step(ln.eid % 65536, ln.ta,
                                                       ln.fix)
            if why is None:
                g_out += 1
                gated.append((ln.st, ln.t * 1000, r))
            else:
                rejects["gate_" + why] = rejects.get("gate_" + why, 0) + 1
                if ln.kind in ("shower", "straddle", "single"):
                    raise GenError(f"{ln.kind} hit of station {ln.st} dropped "
                                   f"by {why}")
        file_stats.append(dict(kind=kind, round=r, file=fname,
                               lines=len(lines), parse_out=p_out,
                               gate_out=g_out))

    sessions, comps = coincidences([(st, ns) for st, ns, _ in gated])
    round_of = {ns: r for _, ns, r in gated}
    ops = []
    for members, valid in comps:
        members.sort(key=lambda m: m[1])
        uuid, end = members[0][1], members[-1][1]
        n, n_st = len(members), len({m[0] for m in members})
        rounds = {round_of[m[1]] for m in members}
        if len(rounds) != 1:
            raise GenError("a coincidence spans two rounds")
        ops.append(dict(
            round=rounds.pop(), uuid=uuid, end=end, n=n, n_stations=n_st,
            conflicting=n > n_st, valid=valid,
            straddle=uuid // (HOUR_US * 1000) != end // (HOUR_US * 1000),
            ascii=ascii_msg(uuid, end, n, valid, n > n_st),
            mqtt=[mqtt_msg(uuid, n, st, ns) for st, ns in members]))
    per_round = {}
    for op in ops:
        c = per_round.setdefault(op["round"], [0, 0])
        c[0] += 1
        c[1] += op["straddle"]
    want = [cfg["showers"] + 1, 1]
    if any(c != want for c in per_round.values()) or \
            len(per_round) != len(corpus.rounds):
        raise GenError(f"rounds must hold {want} (ops, straddlers): {per_round}")

    sent = sentinel_lines(next_id)
    write_outputs(out_dir, name, seed, cfg, files, every, sent, file_stats,
                  ops, rejects, sessions, gates)
    return out_dir


def write_outputs(out_dir, name, seed, cfg, files, every, sent, file_stats,
                  ops, rejects, sessions, gates):
    staging = os.path.join(out_dir, "staging")
    os.makedirs(staging, exist_ok=True)
    manifest = []
    for kind, r, fname, lines in files:
        with open(os.path.join(staging, fname), "w") as f:
            for ln in lines:
                topic, payload = wire(ln)
                f.write(f'{{"topic":"{topic}","payload":"{payload}"}}\n')
        manifest.append(f"{kind} {r} {fname}")
    with open(os.path.join(staging, "sentinel.json"), "w") as f:
        for ln in sent:
            topic, payload = wire(ln)
            f.write(f'{{"topic":"{topic}","payload":"{payload}"}}\n')
    manifest.append("sentinel 0 sentinel.json")
    with open(os.path.join(out_dir, "manifest.txt"), "w") as f:
        f.write("\n".join(manifest) + "\n")

    dag = [ln for *_, lines in files[:DAG_ROUNDS + 1] for ln in lines]
    table = pa.table({
        "event_id": pa.array([ln.eid for ln in dag], pa.int64()),
        "ts": pa.array([ln.t for ln in dag], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([ln.st for ln in dag], pa.int64()),
        "event_type": pa.array(["error" if ln.fix == 0 else "hit"
                                for ln in dag], pa.string()),
        "value": pa.array([ln.ta / 10.0 for ln in dag], pa.float64()),
    })
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))

    sizes = sorted(len(s) for s in sessions)
    stats = dict(
        stations=len(gates), lines=len(every), rejects=rejects,
        ops=len(ops), straddlers=sum(o["straddle"] for o in ops),
        session_hits=dict(count=len(sizes), min=sizes[0],
                          median=sizes[len(sizes) // 2], max=sizes[-1]),
        shower_n=dict(min=min(o["n"] for o in ops),
                      max=max(o["n"] for o in ops)))
    sentinel_stats = dict(lines=len(sent), parse_out=len(sent), gate_out=1,
                          station=SENTINEL, hex=f"{SENTINEL:016x}",
                          t_ns=SENTINEL_T_US * 1000)
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(dict(workload=name, seed=seed, config=cfg,
                       rounds=len(files) - 1, files=file_stats,
                       sentinel=sentinel_stats, ops=ops, stats=stats), f)


def main(argv):
    if len(argv) != 5:
        sys.exit("usage: gen.py <workload> <seed> <seconds> <out_dir>")
    generate(argv[1], int(argv[2]), argv[4], rounds_for(float(argv[3])))


if __name__ == "__main__":
    main(sys.argv)
