"""Property-based tests (SURVEY.md §5.4) — hypothesis drives the pure
Column functions and the state machine through randomized inputs.
Spark round-trips are batched per test (one DataFrame per example set)
to keep runtime sane."""

from __future__ import annotations

import datetime as dt
from itertools import product

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iotdatapipeline_spark.functions import decode_block, expand_alternatives
from iotdatapipeline_spark.streaming import make_state_fn

SET = settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])


def ref_limpiar(cadena: str):
    """Independent transcription of the reference semantics
    (Prensas.py:442-448) as the property oracle."""
    s = cadena.replace("\x00", "")
    if "/" in s:
        partes = [p.split("/") for p in s.split(" ")]
        return ["".join(c) for c in product(*partes)]
    return [s.replace(" ", "")]


def ref_decode(words):
    chars = [chr(v & 0xFF) + chr((v >> 8) & 0xFF) for v in words]
    return "".join(chars).replace("\x00", "")


part_text = st.text(
    alphabet=st.sampled_from(list("ABC12 /")), min_size=0, max_size=12
).filter(lambda s: len(ref_limpiar(s)) <= 64)


class TestExpandAlternativesProperty:
    @SET
    @given(st.lists(part_text, min_size=1, max_size=12))
    def test_matches_reference(self, spark, cadenas):
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cadenas)], "i int, s string")
        got = {
            r["i"]: r["out"]
            for r in df.select("i", expand_alternatives(F.col("s")).alias("out")).collect()
        }
        for i, c in enumerate(cadenas):
            assert got[i] == ref_limpiar(c), repr(c)


class TestDecodeProperty:
    @SET
    @given(st.lists(st.lists(st.integers(0, 0xFFFF), min_size=0, max_size=6), min_size=1, max_size=12))
    def test_roundtrip_against_reference(self, spark, blocks):
        df = spark.createDataFrame([(i, b) for i, b in enumerate(blocks)], "i int, b array<int>")
        got = {r["i"]: r["out"] for r in df.select("i", decode_block(F.col("b")).alias("out")).collect()}
        for i, b in enumerate(blocks):
            assert got[i] == ref_decode(b), b

    @SET
    @given(st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=255), max_size=8))
    def test_encode_decode_identity(self, spark, s):
        # encode: pack chars little-endian into words (pad odd length with NUL)
        padded = s + ("\x00" if len(s) % 2 else "")
        words = [ord(padded[i]) | (ord(padded[i + 1]) << 8) for i in range(0, len(padded), 2)]
        df = spark.createDataFrame([(words,)], "b array<int>")
        out = df.select(decode_block(F.col("b")).alias("o")).first()["o"]
        assert out == s.replace("\x00", "")


class TestStateMachineInvariants:
    class _St:
        def __init__(self):
            self._v, self.hasTimedOut = None, False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            pass

    @SET
    @given(st.lists(st.integers(0, 1000), min_size=1, max_size=60))
    def test_deltas_telescope_and_nonneg(self, counters):
        """Away from shift boundaries: every delta > 0 and Σdeltas =
        runmax(last) − first counter (the reference's A5 invariant)."""
        fn = make_state_fn("reference")
        st_ = self._St()
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        rows = [(1, "p", t0 + dt.timedelta(seconds=i), i, 0.0, c) for i, c in enumerate(counters)]
        pdf = pd.DataFrame(rows, columns=["station", "part", "ts", "event_id", "value", "counter"])
        out = list(fn((1, "p"), iter([pdf]), st_))
        deltas = [int(d) for df in out for d in df["delta"]]
        assert all(d > 0 for d in deltas)
        assert sum(deltas) == max(counters) - counters[0]

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 24 * 3600 * 3 - 1), st.integers(0, 10_000)),
            min_size=2,
            max_size=80,
        )
    )
    def test_boundary_invariants_pure_advance(self, ticks):
        """Random timestamps ACROSS shift boundaries, directly on the
        pure transition fn (no Spark): (1) every delta ≥ 0, zero only
        at a boundary emit; (2) emitted counters never decrease;
        (3) qty_running = counter − base is never negative; (4) the
        final state's prev equals the last emitted (or admitted)
        counter."""
        from iotdatapipeline_spark.streaming.stateful import _FRESH_STATE, _advance

        base_day = dt.datetime(2024, 1, 1)
        rows = sorted(
            ((base_day + dt.timedelta(seconds=s)), c) for s, c in ticks
        )
        pdf = pd.DataFrame(
            [(1, "p", ts, i, 0.0, c) for i, (ts, c) in enumerate(rows)],
            columns=["station", "part", "ts", "event_id", "value", "counter"],
        )
        out, state = _advance(1, "p", pdf, _FRESH_STATE, "reference")
        prev_emitted = None
        for r in out:
            assert r["delta"] >= 0
            if r["delta"] == 0:
                assert r["shift_change"]
            assert r["qty_running"] >= 0
            if prev_emitted is not None:
                assert r["counter"] >= prev_emitted
            prev_emitted = r["counter"]
        if out:
            assert state[0] == out[-1]["counter"]
        else:
            assert state[0] == pdf["counter"].iloc[0]

    @SET
    @given(st.lists(st.integers(0, 1000), min_size=2, max_size=60), st.integers(1, 5))
    def test_batch_split_equals_single_batch(self, counters, n_splits):
        """State continuity: any micro-batch partitioning of the same
        ordered rows produces identical emits."""
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        rows = [(1, "p", t0 + dt.timedelta(seconds=i), i, 0.0, c) for i, c in enumerate(counters)]
        cols = ["station", "part", "ts", "event_id", "value", "counter"]

        def run(batches):
            fn = make_state_fn("reference")
            st_ = self._St()
            out = []
            for b in batches:
                if b:
                    for df in fn((1, "p"), iter([pd.DataFrame(b, columns=cols)]), st_):
                        out.extend((int(r.counter), int(r.delta)) for r in df.itertuples(index=False))
            return out

        single = run([rows])
        chunk = max(1, len(rows) // n_splits)
        split = run([rows[i : i + chunk] for i in range(0, len(rows), chunk)])
        assert single == split


class TestLshGuarantees:
    def test_identical_docs_always_candidates_and_pairs_share_band(self, spark):
        """LSH soundness on a randomized corpus: (a) exact duplicates
        land in the same bucket of EVERY band, so they are always
        candidate pairs; (b) every emitted pair genuinely shares at
        least one band hash (no spurious pairs)."""
        import random

        from iotdatapipeline_spark.analytics.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            shingle_set,
        )

        rng = random.Random(1234)
        vocab = [f"w{i}" for i in range(40)]
        texts = [" ".join(rng.choices(vocab, k=rng.randint(6, 30))) for _ in range(40)]
        # plant exact duplicate groups
        texts += [texts[0], texts[1], texts[1]]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )
        sh = shingle_set(docs, "doc_id", "text", n=3, distinct=False)
        sigs = minhash_signatures(sh, "doc_id", k=8)
        pairs = {
            (r["doc1"], r["doc2"])
            for r in lsh_candidate_pairs(sigs, "doc_id", k=8, rows_per_band=2).collect()
        }
        n = len(texts)
        assert (0, n - 3) in pairs  # duplicate of texts[0]
        assert (1, n - 2) in pairs and (1, n - 1) in pairs and (n - 2, n - 1) in pairs

        sig_rows = {r["doc_id"]: [r[f"h{i}"] for i in range(8)] for r in sigs.collect()}
        for d1, d2 in pairs:
            s1, s2 = sig_rows[d1], sig_rows[d2]
            shares_band = any(
                s1[2 * b] == s2[2 * b] and s1[2 * b + 1] == s2[2 * b + 1] for b in range(4)
            )
            assert shares_band, (d1, d2)


class TestSaltedJaccard:
    def test_salted_expansion_matches_plain_with_hot_shingle(self, spark):
        """r14 skew guard: jaccard_pairs(salt_buckets=m) must be
        row-identical to the plain single-bucket expansion, including
        on a corpus with a pathological stop-shingle shared by every
        doc (the case the salt exists for) — exceptAll both ways."""
        import random

        from iotdatapipeline_spark.analytics.dedup import jaccard_pairs, shingle_set

        rng = random.Random(99)
        vocab = [f"w{i}" for i in range(25)]
        # "the stop stop" 3-gram in every doc = one bucket with all ids
        texts = [
            "the stop stop " + " ".join(rng.choices(vocab, k=rng.randint(6, 20)))
            for _ in range(30)
        ]
        texts += [texts[0], texts[3]]  # near-exact pairs with high jaccard
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )
        sh = shingle_set(docs, "doc_id", "text", n=3, distinct=True)
        plain = jaccard_pairs(sh, "doc_id", min_jaccard_x1000=0)
        salted = jaccard_pairs(sh, "doc_id", min_jaccard_x1000=0, salt_buckets=4)
        assert salted.schema == plain.schema
        assert plain.count() > 0
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


class TestJoinOperatorProperties:
    """asof_join / band_range_join vs pure-Python oracles on random
    inputs — one Spark round-trip per example, tiny frames."""

    @SET
    @given(
        st.lists(  # probe: (key, ts)
            st.tuples(st.integers(0, 2), st.integers(0, 50)),
            min_size=1, max_size=15,
        ),
        st.lists(  # build: (key, ts, val) — ts deduped per key below
            st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
            min_size=0, max_size=10,
        ),
    )
    def test_asof_matches_python_reference(self, spark, probe, build):
        from iotdatapipeline_spark.operators import asof_join

        # enforce the documented build-uniqueness contract: max val per (k, ts)
        uniq: dict = {}
        for k, ts, v in build:
            uniq[(k, ts)] = max(v, uniq.get((k, ts), -1))
        build_rows = [(k, ts, v) for (k, ts), v in uniq.items()]

        pdf = spark.createDataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(probe)], "k int, ts int, pid int"
        )
        bdf = spark.createDataFrame(build_rows or [(99, 0, 0)], "k int, ts int, val int")
        if not build_rows:
            bdf = bdf.filter("k < 99")
        expected = {}
        for i, (k, ts) in enumerate(probe):
            cands = [(bts, v) for (bk, bts), v in uniq.items() if bk == k and bts <= ts]
            expected[i] = max(cands)[1] if cands else None

        out = asof_join(pdf, bdf, on=["k"], ts_col="ts", value_cols=["val"])
        assert {r.pid: r.val for r in out.collect()} == expected
        bucketed = asof_join(
            pdf, bdf, on=["k"], ts_col="ts", value_cols=["val"],
            bucket=F.floor(F.col("ts") / 7),
        )
        assert {r.pid: r.val for r in bucketed.collect()} == expected

    @SET
    @given(
        st.lists(st.integers(-5, 60), min_size=1, max_size=15),          # points
        st.lists(st.tuples(st.integers(0, 50), st.integers(1, 20)),      # (lo, width)
                 min_size=0, max_size=6),
        st.sampled_from([1.0, 3.0, 7.5, 32.0]),                          # granularity
    )
    def test_band_range_join_matches_python_reference(self, spark, points, ranges, gran):
        from iotdatapipeline_spark.operators import band_range_join

        pdf = spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(points)], "pid int, p double"
        )
        rdf = spark.createDataFrame(
            [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(ranges)] or [(0, 0.0, 0.0)],
            "rid int, lo double, hi double",
        )
        if not ranges:
            rdf = rdf.filter("hi > lo")
        out = band_range_join(
            pdf, rdf, point_col="p", lo_col="lo", hi_col="hi", granularity=gran
        )
        got = {(r.pid, r.rid) for r in out.collect()}
        expected = {
            (i, j)
            for i, p in enumerate(points)
            for j, (lo, w) in enumerate(ranges)
            if lo <= p < lo + w
        }
        assert got == expected


class TestTimeseriesOperatorProperties:
    """collapse_islands / resample_ffill / ordered_funnel vs
    pure-Python oracles on random inputs (same pattern as the join
    operators above: one Spark round-trip per example, tiny frames)."""

    BASE = dt.datetime(2024, 1, 1)

    @SET
    @given(
        st.lists(  # (key, minute, state)
            st.tuples(st.integers(0, 2), st.integers(0, 30), st.sampled_from("abc")),
            min_size=1, max_size=20,
        )
    )
    def test_islands_match_python_reference(self, spark, events):
        from iotdatapipeline_spark.operators import collapse_islands

        rows = [
            (k, self.BASE + dt.timedelta(minutes=m), i, s)
            for i, (k, m, s) in enumerate(events)
        ]
        df = spark.createDataFrame(rows, "k int, ts timestamp, eid bigint, state string")
        out = collapse_islands(
            df, keys=("k",), state_col="state", order_cols=("ts", "eid"), ts_col="ts"
        )
        got = {
            (r["k"], r["state"], r["run_id"], r["valid_from"], r["valid_to"], r["n_obs"])
            for r in out.collect()
        }
        expected = set()
        for key in {r[0] for r in rows}:
            seq = sorted((r for r in rows if r[0] == key), key=lambda r: (r[1], r[2]))
            run_id, prev_state, run = 0, object(), []
            runs = []
            for r in seq:
                if r[3] != prev_state:
                    if run:
                        runs.append((run_id, prev_state, run))
                    run_id, prev_state, run = run_id + 1, r[3], []
                run.append(r)
            if run:
                runs.append((run_id, prev_state, run))
            for rid, state, members in runs:
                ts_list = [m[1] for m in members]
                expected.add((key, state, rid, min(ts_list), max(ts_list), len(members)))
        assert got == expected

    @SET
    @given(
        st.lists(  # (key, second-offset, value)
            st.tuples(st.integers(0, 2), st.integers(0, 600), st.integers(0, 99)),
            min_size=1, max_size=15,
        )
    )
    def test_resample_ffill_matches_python_reference(self, spark, readings):
        from iotdatapipeline_spark.operators import resample_ffill

        rows = [
            (k, self.BASE + dt.timedelta(seconds=sec), i, v)
            for i, (k, sec, v) in enumerate(readings)
        ]
        df = spark.createDataFrame(rows, "k int, ts timestamp, eid bigint, v bigint")
        out = resample_ffill(
            df, key="k", ts_col="ts", value_col="v", step="1 minute",
            trunc_unit="minute", tiebreak_cols=("ts", "eid"), out_ts="bucket_ts",
        )
        got = {(r["k"], r["bucket_ts"]): r["v"] for r in out.collect()}

        def minute(t):
            return t.replace(second=0, microsecond=0)

        m0 = minute(min(r[1] for r in rows))
        m1 = minute(max(r[1] for r in rows))
        grid = []
        cur = m0
        while cur <= m1:
            grid.append(cur)
            cur += dt.timedelta(minutes=1)
        expected = {}
        for key in {r[0] for r in rows}:
            last = None
            per_bucket = {}
            for r in sorted((r for r in rows if r[0] == key), key=lambda r: (r[1], r[2])):
                per_bucket[minute(r[1])] = r[3]  # later (ts, eid) wins
            for b in grid:
                if b in per_bucket:
                    last = per_bucket[b]
                expected[(key, b)] = last
        assert got == expected

    @SET
    @given(
        st.lists(  # (user, minute, stage-letter)
            st.tuples(st.integers(0, 2), st.integers(0, 100), st.sampled_from("ABC")),
            min_size=1, max_size=25,
        )
    )
    def test_funnel_matches_python_reference(self, spark, events):
        from iotdatapipeline_spark.operators import ordered_funnel

        rows = [
            (u, self.BASE + dt.timedelta(minutes=m), s) for u, m, s in events
        ]
        df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
        out = ordered_funnel(
            df, user_col="user_id", type_col="event_type", ts_col="ts",
            stages=("A", "B", "C"), window_expr="INTERVAL 10 MINUTES",
        )
        got = {r["user_id"]: (r["t1"], r["t2"], r["t3"]) for r in out.collect()}
        W = dt.timedelta(minutes=10)
        expected = {}
        for u in {r[0] for r in rows}:
            mine = [r for r in rows if r[0] == u]
            a = [r[1] for r in mine if r[2] == "A"]
            if not a:
                continue
            t1 = min(a)
            b = [r[1] for r in mine if r[2] == "B" and t1 <= r[1] < t1 + W]
            t2 = min(b) if b else None
            t3 = None
            if t2 is not None:
                c = [r[1] for r in mine if r[2] == "C" and t2 <= r[1] < t2 + W]
                t3 = min(c) if c else None
            expected[u] = (t1, t2, t3)
        assert got == expected


def ref_interpolate(obs: dict[int, int], h0: int, h1: int) -> dict[int, int | None]:
    """Pure-Python reference for grid interpolation: ``obs`` maps
    grid index → observed value; returns every index in [h0, h1] →
    observed / linearly-interpolated / None (outside observed span).
    Mirrors the operator's exact-integer rule: prev + floor((next −
    prev)·Δt/Δspan) with the division in double."""
    import math

    out: dict[int, int | None] = {}
    ks = sorted(obs)
    for h in range(h0, h1 + 1):
        if h in obs:
            out[h] = obs[h]
            continue
        prevs = [k for k in ks if k < h]
        nexts = [k for k in ks if k > h]
        if not prevs or not nexts:
            out[h] = None
            continue
        p, n = prevs[-1], nexts[0]
        out[h] = obs[p] + math.floor(
            float(obs[n] - obs[p]) * float(h - p) / float(n - p)
        )
    return out


class TestInterpolateProperty:
    @SET
    @given(
        st.dictionaries(
            st.integers(0, 20),
            st.integers(-1000, 1000),
            min_size=1,
            max_size=10,
        )
    )
    def test_matches_python_reference(self, spark, obs):
        from iotdatapipeline_spark.operators.timeseries import resample_interpolate

        base = dt.datetime(2024, 1, 1)
        rows = [
            (1, base + dt.timedelta(hours=h), h, v) for h, v in obs.items()
        ]
        df = spark.createDataFrame(
            rows, "station int, ts timestamp, event_id int, v_cents long"
        )
        got = {
            int((r["bucket_ts"] - base).total_seconds() // 3600): r["v_cents"]
            for r in resample_interpolate(
                df, key="station", ts_col="ts", value_col="v_cents"
            ).collect()
        }
        expect = ref_interpolate(obs, min(obs), max(obs))
        assert got == expect, (obs, got, expect)


class TestBloomProperty:
    @SET
    @given(
        st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=20, unique=True),
        st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=20, unique=True),
    )
    def test_no_false_negatives_ever(self, spark, members, probes):
        from iotdatapipeline_spark.operators.bloom import bloom_build, bloom_probe

        build = spark.createDataFrame([(m,) for m in members], "k string")
        probe = spark.createDataFrame([(p,) for p in set(members) | set(probes)], "k string")
        got = {
            r["k"]: r["bloom_hit"]
            for r in bloom_probe(probe, bloom_build(build, "k"), "k").collect()
        }
        for m in members:
            assert got[m], m  # a member can NEVER miss


class TestIslandsMergeProperty:
    @SET
    @given(
        st.lists(st.sampled_from("ab"), min_size=2, max_size=24),
        st.integers(1, 23),
    )
    def test_split_merge_equals_direct(self, spark, states, cut):
        """merge(islands(prefix), islands(suffix)) == islands(full)
        for ANY state sequence and ANY split point."""
        from iotdatapipeline_spark.operators.timeseries import (
            collapse_islands,
            merge_islands,
        )

        cut = min(cut, len(states) - 1)
        rows = [
            (1, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), h, s)
            for h, s in enumerate(states)
        ]
        df = spark.createDataFrame(
            rows, "station int, ts timestamp, event_id int, event_type string"
        )
        prior = collapse_islands(df.filter(F.col("event_id") < cut))
        delta = collapse_islands(df.filter(F.col("event_id") >= cut))
        merged = merge_islands(prior, delta)
        direct = collapse_islands(df)
        cols = ["station", "event_type", "run_id", "valid_from", "valid_to", "n_obs"]
        got = sorted(tuple(r[c] for c in cols) for r in merged.select(*cols).collect())
        want = sorted(tuple(r[c] for c in cols) for r in direct.select(*cols).collect())
        assert got == want, (states, cut)
