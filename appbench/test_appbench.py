"""Self-tests of the benchmark's generator and output checks.

Run from the checkout root:  python3 -m unittest appbench/test_appbench.py
"""

import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402

S = 10**9  # ns per second


def op(uuid, members, ascii_msg, straddle=False, rnd=1):
    """An expected operation the way gen.generate writes it."""
    n = len(members)
    return dict(round=rnd, uuid=uuid, end=max(t for _, t in members), n=n,
                n_stations=len({s for s, _ in members}),
                conflicting=n > len({s for s, _ in members}),
                straddle=straddle, ascii=ascii_msg,
                mqtt=[gen.mqtt_msg(uuid, n, s, t) for s, t in members])


class HandCorpus(unittest.TestCase):
    """Expectations worked out by hand from the reference rules."""

    def test_geohash_reference_point(self):
        # the textbook example point of the geohash scheme
        self.assertEqual(gen.geohash(57.64911, 10.40744, 11), "u4pruydqqvj")

    def test_station_tag(self):
        # station 123: lat 50.06, lon 10.06, geohash cut to 4 + 123 % 3 = 4.
        # lon bits 1000011100, lat bits 1100011100, interleaved from lon:
        # 11010 00000 11111 10000 -> u 0 z h
        self.assertEqual(gen.station_tag(123), "000000000000007b u0zh")

    def test_gate_reasons(self):
        g = gen.Gate()
        # five detector-info fields: mask incomplete, nothing forwarded
        for res in range(5):
            self.assertEqual(g.step(res, 100, 1), "s4_mask")
        # the sixth completes the mask; fix = 0 fails the R5 accept test
        self.assertEqual(g.step(5, 100, 0), "r5_accept")
        self.assertIsNone(g.step(6, 100, 1))
        self.assertEqual(g.step(7, 501, 1), "r5_accept")
        # time_acc 700 alone: f = 700 / 500 = 1.4 > 1.15 -> unreliable
        u = gen.Gate()
        for res in range(6):
            self.assertEqual(u.step(res, 700, 1),
                             "s4_mask" if res < 5 else "r6_reliability")
        # f = mean / 500: 400 -> 0.8 < 0.85, reliable from the first hit
        h = gen.Gate()
        for res in range(6):
            h.step(res, 400, 0)
        self.assertIsNone(h.step(0, 400, 1))
        self.assertIsNone(h.step(1, 500, 1))        # mean 412.5, 500 <= 500
        # three R5 rejects lift the mean to 456.8 (f = 0.91): inside the
        # 0.85-1.15 dead band the status stays reliable
        for _ in range(3):
            self.assertEqual(h.step(2, 575, 1), "r5_accept")
        self.assertEqual(h.status, "reliable")
        # one extreme hit (> 3000) downgrades at once
        self.assertEqual(h.step(3, 3001, 1), "r6_reliability")

    def test_coincidences(self):
        a, b, c = 11, 22, 33                  # three different grid cells
        d, e, f = 5, 705, 1405                # one grid cell (st % 700 == 5)
        hits = [
            (a, 1000 * S), (b, 1000 * S + 2 * S),          # pair, 2 s apart
            (c, 1100 * S),                                 # alone
            (d, 2000 * S), (e, 2003 * S), (f, 2006 * S),   # chain 0-3-6 s
            (a, 3000 * S), (a, 3000 * S + 1),              # one station twice
        ]
        sessions, comps = gen.coincidences(hits)
        self.assertEqual([len(s) for s in sessions], [2, 1, 3, 2])
        got = sorted((m[0][1], len(m), v) for m, v in comps)
        # the 0-6 s pair of the chain is outside the 5 s floor
        self.assertEqual(got, [(1000 * S, 2, 1), (2000 * S, 3, 2),
                               (3000 * S, 2, 1)])
        self.assertEqual(gen.ascii_msg(2000 * S, 2006 * S, 3, 2, False),
                         "Event: n=3 2/3 V dt=6000000000")
        self.assertEqual(gen.ascii_msg(3000 * S, 3000 * S + 1, 2, 1, True),
                         "Event: n=2 1/1 C dt=1")
        self.assertEqual(gen.mqtt_msg(2000 * S, 3, 705, 2003 * S),
                         gen.station_tag(705) + " 3 3000000000 2003000000000")

    def test_ambiguous_pair_is_refused(self):
        with self.assertRaises(gen.GenError):
            gen.valid_edge((11, 0), (22, 10 * S))

    def test_wire_recipe(self):
        ln = gen.Line(1_704_067_200_123_456, 4242, 77, 1, "shower")
        ln.eid = 1001
        self.assertEqual(gen.wire(ln), (
            "muonpi/data/u4242/st0",
            "1704067200.123456000 1704067200.123457000 77 1001 1 1 1"))
        ln.eid = 89 * 3
        self.assertEqual(gen.wire(ln)[0], "muonpi/data/cluster/st0")
        ln.eid = 97 * 5
        self.assertTrue(gen.wire(ln)[1].startswith(".12345678901234567 "))


class Generated(unittest.TestCase):
    """Structure of a generated corpus."""

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp(prefix="appbench-test-")
        gen.generate("sparse_network", 7, cls.dir)
        import json
        with open(os.path.join(cls.dir, "expect.json")) as f:
            cls.expect = json.load(f)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_one_straddler_per_round(self):
        cfg = self.expect["config"]
        by_round = {}
        for o in self.expect["ops"]:
            by_round.setdefault(o["round"], []).append(o["straddle"])
        self.assertEqual(len(by_round), self.expect["rounds"] + 1)
        for flags in by_round.values():
            self.assertEqual(len(flags), cfg["showers"] + 1)
            self.assertEqual(sum(flags), 1)

    def test_fixed_file_sizes_and_counts(self):
        cfg = self.expect["config"]
        for f in self.expect["files"][1:]:
            self.assertEqual(f["lines"], cfg["round_lines"])
            with open(os.path.join(self.dir, "staging", f["file"])) as fh:
                lines = fh.read().splitlines()
            self.assertEqual(len(lines), f["lines"])
            # parse rejects are recognisable on the wire
            ok = [ln for ln in lines if "/cluster/" not in ln
                  and '"payload":".' not in ln]
            self.assertEqual(len(ok), f["parse_out"])

    def test_delivery_order(self):
        with open(os.path.join(self.dir, "manifest.txt")) as f:
            kinds = [ln.split(" ")[0] for ln in f.read().splitlines()]
        self.assertEqual(kinds, ["warmup"] + ["ramp"] * gen.RAMP_ROUNDS +
                         ["round"] * (gen.DAG_ROUNDS - gen.RAMP_ROUNDS) +
                         ["sentinel"])

    def test_window_is_ended_by_time(self):
        # a 15 s window at one step per MIN_STEP_S needs 75 timed rounds
        self.assertEqual(gen.rounds_for(15), gen.RAMP_ROUNDS + 75)
        self.assertEqual(gen.rounds_for(1), gen.DAG_ROUNDS)

    def test_same_seed_same_corpus(self):
        other = tempfile.mkdtemp(prefix="appbench-test-")
        try:
            gen.generate("sparse_network", 7, other)
            for name in ("manifest.txt", "expect.json", "staging/r0001.json"):
                with open(os.path.join(self.dir, name)) as a, \
                        open(os.path.join(other, name)) as b:
                    self.assertEqual(a.read(), b.read())
        finally:
            shutil.rmtree(other, ignore_errors=True)


class Checks(unittest.TestCase):
    """The output check must refuse tampered outputs."""

    def setUp(self):
        # a plain shower and a straddling one
        self.plain = op(100 * S, [(11, 100 * S), (22, 101 * S)],
                        "Event: n=2 1/1 V dt=1000000000")
        self.strad = op(3599 * S, [(1001, 3599 * S), (1013, 3600 * S + 1)],
                        "Event: n=2 1/1 V dt=1000000001", straddle=True)
        self.ops = [self.plain, self.strad]

    def rows(self, ops):
        return ([(o["uuid"], m) for o in ops for m in o["mqtt"]],
                [(o["uuid"], o["ascii"]) for o in ops])

    def test_exact_output_passes(self):
        mqtt, asc = self.rows(self.ops)
        failed, errors = check.check_stream(self.ops, mqtt, asc)
        self.assertEqual((failed, errors), ([], []))
        self.assertEqual(check.check_invariants(mqtt, asc), [])

    def test_split_straddler_is_a_failed_operation(self):
        mqtt, asc = self.rows([self.plain])
        failed, errors = check.check_stream(self.ops, mqtt, asc)
        self.assertEqual(failed, [self.strad])
        self.assertEqual(errors, [])

    def test_fragments_of_a_straddler_are_allowed(self):
        s = op(3598 * S, [(1001, 3598 * S), (1013, 3599 * S),
                          (1027, 3600 * S + 1), (1042, 3601 * S)],
               "Event: n=4 6/6 V dt=3000000000", straddle=True)
        f1 = op(3598 * S, [(1001, 3598 * S), (1013, 3599 * S)], "x")
        f2 = op(3600 * S + 1, [(1027, 3600 * S + 1), (1042, 3601 * S)], "y")
        mqtt, asc = self.rows([self.plain])
        fm, fa = self.rows([f1, f2])
        failed, errors = check.check_stream([self.plain, s], mqtt + fm,
                                            asc + fa)
        self.assertEqual(failed, [s])
        self.assertEqual(errors, [])

    def test_dropped_mqtt_row_fails(self):
        mqtt, asc = self.rows(self.ops)
        failed, errors = check.check_stream(self.ops, mqtt[1:], asc)
        self.assertEqual(failed, [self.plain])
        self.assertTrue(errors)
        self.assertTrue(check.check_invariants(mqtt[1:], asc))

    def test_altered_pair_count_fails(self):
        mqtt, asc = self.rows(self.ops)
        asc[0] = (asc[0][0], asc[0][1].replace("1/1", "0/1"))
        failed, errors = check.check_stream(self.ops, mqtt, asc)
        self.assertTrue(errors)
        bad = [(asc[0][0], "Event: n=2 2/1 V dt=1000000000")]
        self.assertTrue(check.check_invariants(mqtt[:2], bad))

    def test_extra_fragment_outside_a_straddle_fails(self):
        mqtt, asc = self.rows(self.ops)
        extra = op(500 * S, [(33, 500 * S), (44, 501 * S)],
                   "Event: n=2 1/1 V dt=1000000000")
        em, ea = self.rows([extra])
        failed, errors = check.check_stream(self.ops, mqtt + em, asc + ea)
        self.assertEqual(failed, [])
        self.assertEqual(len(errors), 3)

    def test_batch_twin_must_match_exactly(self):
        mqtt, asc = self.rows(self.ops)
        dag = [(o["uuid"], o["end"], o["n"], o["n_stations"], o["conflicting"])
               for o in self.ops]
        self.assertEqual(check.check_dag(self.ops, dag, mqtt, asc), [])
        self.assertEqual(len(check.check_dag(self.ops, dag[1:], mqtt, asc)), 1)
        self.assertEqual(len(check.check_dag(self.ops, dag, mqtt[1:], asc)), 1)


if __name__ == "__main__":
    unittest.main()
