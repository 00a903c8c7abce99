"""Unit tests for the way-stitching core: the status cascade 0/101/102/501,
the sort-identity + edgedistance==-1 quirks, junction-node dedup asymmetry,
and area-mode closure semantics (FIXTURES.md §4 status cascade cases);
plus the partitioned stitch's whole-frame ``_stitch_many`` against the
per-relation ``flatten`` it must equal."""

import math

import numpy as np
import pandas as pd

from osmptparser_spark.operators import stitch_core as sc


def n(i, lat, lon):
    return (i, lat, lon)


# ~111.32 km per lon degree at equator; use tiny offsets so degrees~meters
# conversions stay intuitive. 0.001 deg lat ~= 111.19 m at R=6371km.
def lat_m(meters):
    return meters / (sc.EARTH_RADIUS_M * math.pi / 180.0)


class TestPrimitives:
    def test_edge_distance_always_minus_one(self):
        w1 = [n(1, 0.0, 0.0), n(2, 1.0, 1.0)]
        w2 = [n(3, 50.0, 50.0), n(4, 60.0, 60.0)]
        assert sc.edge_distance(w1, w2) == -1.0
        assert sc.edge_distance(w1, w1) == -1.0

    def test_sort_ways_is_identity(self):
        ways = [
            [n(1, 0.0, 0.0), n(2, 0.0, 1.0)],
            [n(9, 5.0, 5.0), n(10, 5.0, 6.0)],
            [n(3, 0.0, 1.0), n(4, 0.0, 2.0)],
        ]
        assert sc.sort_ways(ways) == ways

    def test_haversine_known_value(self):
        # 1 degree of latitude at the reference radius
        d = sc.haversine_m(n(1, 0.0, 0.0), n(2, 1.0, 0.0))
        assert abs(d - sc.EARTH_RADIUS_M * math.pi / 180.0) < 1e-6


class TestFirstPass:
    def test_forward_chain_dedups_junction(self):
        a = [n(1, 0, 0), n(2, 0, 1)]
        b = [n(2, 0, 1), n(3, 0, 2)]
        out = sc.first_pass([a, b])
        assert len(out) == 1
        assert [x[0] for x in out[0]] == [1, 2, 3]  # node 2 not duplicated

    def test_reversed_append(self):
        a = [n(1, 0, 0), n(2, 0, 1)]
        b = [n(3, 0, 2), n(2, 0, 1)]  # touches via its LAST node
        out = sc.first_pass([a, b])
        assert [x[0] for x in out[0]] == [1, 2, 3]

    def test_first_segment_reversal(self):
        # run == previous input way and next touches run's FIRST node
        a = [n(2, 0, 1), n(1, 0, 0)]  # backwards
        b = [n(2, 0, 1), n(3, 0, 2)]
        out = sc.first_pass([a, b])
        assert [x[0] for x in out[0]] == [1, 2, 3]

    def test_no_reversal_once_merged(self):
        # after a merge, the run no longer equals the previous input way,
        # so the head-touch reversal must NOT fire
        a = [n(1, 0, 0), n(2, 0, 1)]
        b = [n(2, 0, 1), n(3, 0, 2)]
        c = [n(9, 1, 1), n(1, 0, 0)]  # touches run's FIRST node (id 1)
        out = sc.first_pass([a, b, c])
        assert len(out) == 2  # c starts a new run

    def test_disjoint_ways_stay_split(self):
        a = [n(1, 0, 0), n(2, 0, 1)]
        b = [n(5, 9, 9), n(6, 9, 8)]
        assert len(sc.first_pass([a, b])) == 2


class TestJoinWays:
    def test_bridges_within_tolerance_keeps_both_junctions(self):
        a = [n(1, 0.0, 0.0), n(2, 0.0, 0.001)]
        # gap of ~55m between node 2 and node 3
        b = [n(3, lat_m(55), 0.001), n(4, lat_m(55), 0.002)]
        out = sc.join_ways([a, b], 100.0)
        assert len(out) == 1
        assert [x[0] for x in out[0]] == [1, 2, 3, 4]  # no dedup

    def test_strict_tolerance(self):
        a = [n(1, 0.0, 0.0), n(2, 0.0, 0.0)]
        b = [n(3, lat_m(100.0), 0.0), n(4, lat_m(200), 0.0)]
        assert len(sc.join_ways([a, b], 100.0)) == 2  # 100 < 100 is False
        assert len(sc.join_ways([a, b], 100.1)) == 1

    def test_reverses_run_for_head_pairings(self):
        a = [n(2, 0.0, 0.001), n(1, 0.0, 0.0)]  # head of run near b's head
        b = [n(3, lat_m(55), 0.001), n(4, lat_m(55), 0.002)]
        out = sc.join_ways([a, b], 100.0)
        assert len(out) == 1
        assert [x[0] for x in out[0]] == [1, 2, 3, 4]


class TestFlattenCascade:
    def test_empty_is_broken(self):
        assert sc.flatten_ways([], 150.0) == ([], sc.STATUS_BROKEN)

    def test_status_0_ok(self):
        a = [n(1, 0, 0), n(2, 0, 1)]
        b = [n(2, 0, 1), n(3, 0, 2)]
        ways, status = sc.flatten_ways([a, b], 150.0)
        assert status == sc.STATUS_OK
        assert len(ways) == 1

    def test_status_101_second_sweep(self):
        # Ordering such that one forward sweep leaves 2 runs but a second
        # sweep merges them: a..b then c arrives before its link exists.
        a = [n(1, 0, 0), n(2, 0, 1)]
        c = [n(4, 0, 3), n(5, 0, 4)]
        b = [n(2, 0, 1), n(3, 0, 2), n(4, 0, 3)]
        # pass1: [a, c, b] -> a stays; c new run; b: c.last==4? b.first==2,
        # b.last==4 -> run(c).last==5 != 2, !=4... choose ordering that works:
        ways, status = sc.flatten_ways([c, a, b], 150.0)
        # pass1 over [c,a,b]: run=c; a disjoint -> new run; b: a.last(2)==b.first(2)
        # -> merged run [1..4]; result 2 runs [c, a+b].
        # pass2 over [c, a+b]: head-touch: run c == prev input way c and
        # (a+b).last==4... (a+b)[0]=1? no; (a+b)[-1]=4? not == c[0]=4? c[0] IS 4.
        assert status == sc.STATUS_SORTED
        assert len(ways) == 1

    def test_status_102_gap_bridged(self):
        a = [n(1, 0.0, 0.0), n(2, 0.0, 0.001)]
        b = [n(3, lat_m(55), 0.001), n(4, lat_m(55), 0.002)]
        ways, status = sc.flatten_ways([a, b], 150.0)
        assert status == sc.STATUS_JOINED
        assert len(ways) == 1
        assert [x[0] for x in ways[0]] == [1, 2, 3, 4]

    def test_status_501_gap_exceeds_tolerance(self):
        a = [n(1, 0.0, 0.0), n(2, 0.0, 0.001)]
        b = [n(3, 5.0, 5.0), n(4, 5.0, 5.001)]
        ways, status = sc.flatten_ways([a, b], 150.0)
        assert status == sc.STATUS_BROKEN
        assert ways == []

    def test_status_103_unreachable(self):
        # join_ways(sorted) can only run when join_ways(passed) left >1 run;
        # sorted == passed (identity) so the 103 branch can never newly
        # succeed. Probe a generous sample of gap geometries.
        import itertools

        for d1, d2 in itertools.product([10, 120, 200, 5000], repeat=2):
            a = [n(1, 0.0, 0.0), n(2, 0.0, 0.001)]
            b = [n(3, lat_m(d1), 0.001), n(4, lat_m(d1), 0.002)]
            c = [n(5, lat_m(d1 + d2), 0.002), n(6, lat_m(d1 + d2), 0.003)]
            _, status = sc.flatten_ways([a, b, c], 150.0)
            assert status[0] != 103


class TestAreaMode:
    def test_already_closed_ring(self):
        ring = [n(1, 0, 0), n(2, 0, 1), n(3, 1, 1), n(1, 0, 0)]
        ways, status = sc.flatten([ring], 150.0, closed=True)
        assert status == sc.STATUS_OK
        assert [x[0] for x in ways[0]] == [1, 2, 3, 1]

    def test_closable_within_tolerance_appends_first_node(self):
        ring = [n(1, 0.0, 0.0), n(2, 0.0, 0.001), n(3, lat_m(50), 0.001)]
        ways, status = sc.flatten([ring], 150.0, closed=True)
        assert status == sc.STATUS_JOINED
        assert [x[0] for x in ways[0]] == [1, 2, 3, 1]

    def test_close_tolerance_inclusive_vs_join_strict(self):
        # close_linestring uses <= tolerance; join_ways uses strict <.
        # Use the exact endpoint distance as tolerance to observe both.
        p1, p2, p3 = n(1, 0.0, 0.0), n(2, 0.0, 0.001), n(3, lat_m(150), 0.0)
        tol = sc.haversine_m(p1, p3)
        _, status = sc.close_linestring([p1, p2, p3], tol)
        assert status == sc.STATUS_JOINED
        # collinear gap: only the last-first pairing is within range,
        # and it sits exactly AT the tolerance -> strict < rejects it
        q3 = n(3, 0.0, 0.003)
        gap_tol = sc.haversine_m(p2, q3)
        assert len(sc.join_ways([[p1, p2], [q3, n(4, 1.0, 1.0)]], gap_tol)) == 2

    def test_unclosable_emits_empty_ring_and_501(self):
        ring = [n(1, 0.0, 0.0), n(2, 0.0, 0.001), n(3, 3.0, 3.0)]
        ways, status = sc.flatten([ring], 150.0, closed=True)
        assert status == sc.STATUS_BROKEN
        assert ways == [[]]

    def test_cascade_never_emits_multiple_runs(self):
        # Every success branch of the cascade requires exactly 1 run, so
        # output geometry always has 0 or 1 segments — the closed-mode
        # "last ring wins" loop (relation.rs:291-296) is latent code that
        # only ever sees a single ring. Assert the structural property.
        cases = [
            [[n(1, 0, 0), n(2, 0, 1)], [n(5, 3, 3), n(6, 3, 4)]],
            [[n(1, 0, 0), n(2, 0, 1)], [n(2, 0, 1), n(3, 0, 2)]],
            [
                [n(1, 0.0, 0.0), n(2, 0.0, 0.001)],
                [n(3, lat_m(55), 0.001), n(4, lat_m(55), 0.002)],
            ],
        ]
        for ways_in in cases:
            ways, _ = sc.flatten(ways_in, 150.0, closed=False)
            assert len(ways) <= 1

    def test_closed_mode_loop_semantics_multi_ring(self):
        # Exercise the closed-mode status loop directly (the latent
        # multi-ring path): 102 then 0 -> last wins (0); any 501 poisons.
        ring102 = [n(1, 0.0, 0.0), n(2, 0.0, 0.001), n(3, lat_m(50), 0.001)]
        ring0 = [n(7, 5.0, 5.0), n(8, 5.0, 5.001), n(9, 5.001, 5.001), n(7, 5.0, 5.0)]
        ring501 = [n(11, 0.0, 0.0), n(12, 3.0, 3.0)]

        def close_all(rings):
            status = sc.STATUS_OK
            out = []
            for w in rings:
                wc, ws = sc.close_linestring(w, 150.0)
                if ws[0] == 501:
                    status = sc.STATUS_BROKEN
                if ws[0] != 501 and status[0] != 501:
                    status = ws
                out.append(wc)
            return out, status

        _, st = close_all([ring102, ring0])
        assert st == sc.STATUS_OK  # last ring masks the 102
        ways, st = close_all([ring501, ring0])
        assert st == sc.STATUS_BROKEN and ways[0] == []


def test_stitch_many_matches_per_group():
    from osmptparser_spark.operators.stitch import _stitch_many

    rng = np.random.default_rng(3)
    rows = []
    for rel in range(7):
        for wp in range(int(rng.integers(1, 4))):
            for np_ in range(int(rng.integers(2, 6))):
                rows.append(
                    {
                        "rel_id": rel,
                        "way_pos": wp,
                        "node_pos": np_,
                        "node_id": int(rng.integers(0, 10_000)),
                        "lat": float(rng.uniform(-1, 1)),
                        "lon": float(rng.uniform(-80, -79)),
                    }
                )
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=5)  # scramble
    got = _stitch_many(pdf, 150.0, False).sort_values("rel_id")

    ordered = pdf.iloc[np.lexsort((pdf["node_pos"], pdf["way_pos"], pdf["rel_id"]))]
    want = []
    for rel, g in ordered.groupby("rel_id", sort=True):
        ways = [
            list(zip(w["node_id"], w["lat"], w["lon"]))
            for _, w in g.groupby("way_pos", sort=True)
        ]
        geom, (code, detail) = sc.flatten(ways, 150.0, False)
        want.append(
            (
                rel,
                [[{"lon": n[2], "lat": n[1]} for n in seg] for seg in geom],
                [[n[0] for n in seg] for seg in geom],
                code,
                detail,
            )
        )
    assert list(got["rel_id"]) == [w[0] for w in want]
    for i, col in enumerate(["geometry", "node_seq", "status_code", "status_detail"], 1):
        assert list(got[col]) == [w[i] for w in want], col
