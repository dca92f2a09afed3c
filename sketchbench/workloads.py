"""The three workloads over the transcripts table
``(conv_id, turn_idx, role, text, tool, ts)``.

Each workload writes its inputs once from the seed (``generate``), does its
per-session program work (``prepare``), computes exact answers outside the
timed region (``truth``), runs the timed operation (``op``) and checks the
operation's output (``check``).  Every call into the program goes through
its public functions, inside a tracer span named after the layer.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from harness import INPUT_FILES

#: configured false-positive probability of every Bloom filter here
FPP = 0.001
#: poppy's tolerance on measured FPR (measured <= 1.2 x configured)
FPR_TOLERANCE = 1.2
#: HLL precision; a group's estimate may miss by HLL_SIGMAS standard
#: errors (1.04/sqrt(m)) plus HLL_SLACK: below n ~ sqrt(m) the error is
#: whole register collisions, which a relative bound cannot absorb
HLL_P = 10
HLL_SIGMAS = 4.0
HLL_SLACK = 2
#: smallest exact count (sqrt(m)) of a group in the gated mean HLL error
HLL_MEAN_MIN = 2 ** (HLL_P // 2)
#: CMS shape (eps = e/w, delta = e^-d) and KLL accuracy parameter
CMS_W, CMS_D = 2048, 5
KLL_K = 200
KLL_QS = (0.1, 0.5, 0.9)
#: per-conversation filter capacity: the longest regular conversation has
#: 40 turns; the skewed conversation overfills its filter by design
CONV_CAPACITY = 64
SKEW_CONV = "conv-00000000"


def _write_files(table, path: Path) -> None:
    """Write a driver-side table as INPUT_FILES equal parquet files."""
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    # a schema copied from Spark-written files would carry Spark's row
    # metadata, which Spark trusts over the file's own columns
    table = table.replace_schema_metadata(None)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


def _conv_bound(n: int) -> str:
    return f"conv-{n:08d}"


def _files(path: Path) -> list[Path]:
    return sorted(path.glob("*.parquet"))


class Workload:
    name = ""
    n_convs = 0
    #: timed operations per run, at least
    min_ops = 3
    #: input turns one operation processes (the turns_per_s numerator)
    turns = 0

    def __init__(self, data: Path, seed: int):
        self.data = data
        self.seed = seed

    # -- set-up ----------------------------------------------------------------
    def generate(self, spark) -> None:
        from poppy_spark.data.transcripts import generate_transcripts

        gen = generate_transcripts(spark, n_convs=self.n_convs, seed=self.seed,
                                   partitions=INPUT_FILES)
        gen.write.parquet(str(self.data / "turns"))

    def prepare(self, spark, tracer) -> None:
        """Program work every set-up repeats (none by default)."""

    def truth(self, spark) -> None:
        """Exact answers, once per run, outside every timed region."""

    # -- timed -----------------------------------------------------------------
    def op(self, spark, tracer):
        raise NotImplementedError

    # -- checks ----------------------------------------------------------------
    def check(self, out) -> list[str]:
        raise NotImplementedError

    def run_checks(self, spark, tracer) -> list[str]:
        """Checks on the run as a whole (not on one operation's output)."""
        return []

    def quality(self, out) -> dict[str, float]:
        """Named accuracy figures; ``err_ratio`` is the gated one."""
        raise NotImplementedError

    def replay(self, spark, clock, out) -> list[str]:
        """Replay the operation's Python work single-process (per-layer
        busy time); returns mismatches against the Spark output ``out``."""
        raise NotImplementedError

    def expect_partitions(self, spark) -> None:
        for p in self.data.iterdir():
            if p.is_dir() and _files(p):
                got = spark.read.parquet(str(p)).rdd.getNumPartitions()
                if got != len(_files(p)):
                    raise RuntimeError(f"{p.name}: {got} scan partitions, "
                                       f"{len(_files(p))} files")


def _bloom_factory(capacity: int):
    from poppy_spark.sketches import BloomSketch

    return BloomSketch.factory(capacity, FPP)


def _random_keys(seed: int, n: int, width: int = 24):
    """``n`` random binary keys longer than 8 bytes: absent from every
    filter built from transcript text, so each hit is a false positive."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    data = rng.integers(0, 256, size=n * width, dtype=np.uint8)
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def measured_fpr(filt, seed: int, n: int = 1 << 20, chunk: int = 1 << 18) -> tuple[int, int]:
    """(false positives, probes) of ``filt`` over random absent keys."""
    from poppy_spark.core.hashkern import pack_arrow

    keys = _random_keys(seed, n)
    hits = 0
    for lo in range(0, n, chunk):
        mat, lens = pack_arrow(keys.slice(lo, chunk))
        hits += int(filt.contains_packed(mat, lens).sum())
    return hits, n


class BulkBuild(Workload):
    """One corpus-wide v2 Bloom filter over ``text`` (poppy's bulk insert)."""

    name = "bulk_build"
    n_convs = 30_000

    def truth(self, spark) -> None:
        self.turns = spark.read.parquet(str(self.data / "turns")).count()

    def _build(self, spark, **kw):
        from poppy_spark.spark.agg import build_sketch

        df = spark.read.parquet(str(self.data / "turns"))
        if "coalesce" in kw:
            df = df.select("text").coalesce(kw.pop("coalesce"))
        return build_sketch(df, "text", _bloom_factory(self.turns), **kw)

    def op(self, spark, tracer):
        with tracer.span("agg.build_sketch"):
            sk = self._build(spark)
        return sk.dumps()

    def run_checks(self, spark, tracer) -> list[str]:
        """Reference filter from another partitioning (files coalesced
        into 5 splits) and merge-tree shape (fan-in 2),
        its false negatives, and its FPR over random absent keys."""
        from pyspark.sql import functions as F

        from poppy_spark.spark.probe import bloom_contains

        ref = self._build(spark, coalesce=5, merge_fanout=2)
        self.ref = ref.dumps()
        df = spark.read.parquet(str(self.data / "turns"))
        with tracer.span("probe.bloom_contains"):
            fn = bloom_contains(df, "text", self.ref).filter(~F.col("hit")).count()
        self.fp, self.probes = measured_fpr(ref.filter, self.seed)
        fails = []
        if fn:
            fails.append(f"{fn} false negatives")
        if self.fp / self.probes > FPR_TOLERANCE * FPP:
            fails.append(f"FPR {self.fp / self.probes:.5f} > {FPR_TOLERANCE} x fpp")
        return fails

    def check(self, out) -> list[str]:
        if out != self.ref:
            return ["filter bytes differ from the reference partitioning"]
        return []

    def quality(self, out) -> dict[str, float]:
        fpr = self.fp / self.probes
        return {"fpr_ratio": fpr / FPP, "err_ratio": fpr / FPP}

    def replay(self, spark, clock, out) -> list[str]:
        import replay

        merged, routes = replay.bloom_build(clock, self.data / "turns", self.turns, FPP)
        fails = [] if merged.dumps() == out else ["replayed filter differs from Spark's"]
        if replay.bloom_contains_routes(clock, merged.filter, routes):
            fails.append("replayed filter misses build keys")
        clock.n["core.state_bytes"] = len(out)
        return fails


class BulkProbe(Workload):
    """The ``check`` verb: a broadcast probe over build-set turns and turns
    of a disjoint conversation range.  Runnable, but not in BENCHMARK.json:
    a third workload does not fit the gated run budget (METRICS.md)."""

    name = "bulk_probe"
    #: conversations per range (the build range and the negative range)
    range_convs = 10_000
    n_convs = 2 * range_convs

    def _build_df(self, spark):
        from pyspark.sql import functions as F

        df = spark.read.parquet(str(self.data / "turns"))
        return df.filter(F.col("conv_id") < F.lit(_conv_bound(self.range_convs)))

    def prepare(self, spark, tracer) -> None:
        from poppy_spark.spark.agg import build_sketch

        bdf = self._build_df(spark)
        if not hasattr(self, "build_turns"):
            self.build_turns = bdf.count()
        with tracer.span("agg.build_sketch"):
            self.filt = build_sketch(bdf, "text", _bloom_factory(self.build_turns)).dumps()

    def truth(self, spark) -> None:
        """Query table = every generated turn, with exact membership of its
        text in the build range's texts."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(self.data / "turns", columns=["conv_id", "turn_idx", "text"])
        build = t.filter(pc.less(t.column("conv_id"), _conv_bound(self.range_convs)))
        truth = pc.is_in(t.column("text"), value_set=build.column("text").unique())
        _write_files(t.append_column("truth", truth), self.data / "query")
        self.turns = t.num_rows

    def op(self, spark, tracer):
        from poppy_spark.spark.probe import bloom_contains

        q = spark.read.parquet(str(self.data / "query"))
        with tracer.span("probe.bloom_contains"):
            rows = bloom_contains(q, "text", self.filt).groupBy("truth", "hit").count().collect()
        return {(r["truth"], r["hit"]): r["count"] for r in rows}

    def run_checks(self, spark, tracer) -> list[str]:
        from poppy_spark.core import loads

        self.fp, self.probes = measured_fpr(loads(self.filt), self.seed)
        return []

    def check(self, out) -> list[str]:
        fails = []
        fn = out.get((True, False), 0)
        if fn:
            fails.append(f"{fn} false negatives")
        if sum(out.values()) != self.turns:
            fails.append("probe output lost rows")
        if self._fpr(out) > FPR_TOLERANCE * FPP:
            fails.append(f"FPR {self._fpr(out):.5f} > {FPR_TOLERANCE} x fpp")
        return fails

    @staticmethod
    def _fpr(out) -> float:
        fp, tn = out.get((False, True), 0), out.get((False, False), 0)
        return fp / max(1, fp + tn)

    def quality(self, out) -> dict[str, float]:
        """FPR over the probe's true negatives and random absent keys: the
        probe alone sees too few false positives for a steady figure."""
        fp, tn = out.get((False, True), 0), out.get((False, False), 0)
        both = (fp + self.fp) / (fp + tn + self.probes)
        return {"fpr_ratio": self._fpr(out) / FPP, "random_fpr_ratio": self.fp / self.probes / FPP,
                "err_ratio": both / FPP}

    def replay(self, spark, clock, out) -> list[str]:
        import pyarrow.compute as pc

        import replay

        bound = _conv_bound(self.range_convs)
        merged, _ = replay.bloom_build(clock, self.data / "turns", self.build_turns, FPP,
                                       lambda t: pc.less(t.column("conv_id"), bound))
        fails = [] if merged.dumps() == self.filt else ["replayed filter differs from Spark's"]
        if replay.bloom_probe(clock, self.data / "query", merged.filter) != out:
            fails.append("replayed probe differs from Spark's")
        clock.n["core.state_bytes"] = len(self.filt)
        return fails


class BucketRollup(Workload):
    """North-rule analytics: HLL distinct conversations per role x day, CMS
    tool frequencies per role x week, KLL text-length quantiles per role x
    day, and per-conversation Bloom membership."""

    name = "bucket_rollup"
    #: about 0.23M turns: at 4k conversations Spark's fixed per-task
    #: latency was two thirds of an operation, and it is what slows most
    #: when the host is busy (METRICS.md)
    n_convs = 10_000

    @staticmethod
    def _with_buckets(df):
        from pyspark.sql import functions as F

        return (df.withColumn("day", F.to_date("ts"))
                .withColumn("week", F.to_date(F.date_trunc("week", "ts")))
                .withColumn("len", F.length("text")))

    def _turns(self, spark):
        return self._with_buckets(spark.read.parquet(str(self.data / "turns")))

    def truth(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import functions as F

        cid = F.substring("conv_id", 6, 8).cast("int")
        t = self._turns(spark).select(
            "conv_id", "turn_idx", "role", "day", "week", "len", "tool", "text",
            F.format_string("conv-%08d", (cid + 1) % self.n_convs).alias("next_conv")).toArrow()
        self.turns = t.num_rows
        hll = t.group_by(["role", "day"]).aggregate([("conv_id", "count_distinct")])
        self.hll_true = {(r["role"], r["day"]): r["conv_id_count_distinct"] for r in hll.to_pylist()}
        tools = t.filter(pc.is_valid(t.column("tool")))
        self.cms_true: dict = {}
        for r in tools.group_by(["role", "week", "tool"]).aggregate([("len", "count")]).to_pylist():
            self.cms_true.setdefault((r["role"], r["week"]), {})[r["tool"]] = r["len_count"]
        hist: dict = {}
        for r in t.group_by(["role", "day", "len"]).aggregate([("conv_id", "count")]).to_pylist():
            hist.setdefault((r["role"], r["day"]), []).append((r["len"], r["conv_id_count"]))
        self.kll_true = {}
        for g, pairs in hist.items():
            pairs.sort()
            vals = np.array([p[0] for p in pairs], dtype=np.float64)
            self.kll_true[g] = (vals, np.cumsum([p[1] for p in pairs]))
        # probe rows, one per turn: even turns against their own
        # conversation's filter, odd turns' text against the next one's
        members = t.select(["conv_id", "text"]).group_by(["conv_id", "text"]).aggregate([])
        members = members.append_column("truth", pa.array(np.ones(members.num_rows, dtype=bool)))
        odd = pc.equal(pc.bit_wise_and(t.column("turn_idx"), 1), 1)
        q = (pa.table({"conv_id": pc.if_else(odd, t.column("next_conv"), t.column("conv_id")),
                       "text": t.column("text")})
             .join(members, ["conv_id", "text"], join_type="left outer"))
        q = q.set_column(2, "truth", pc.is_valid(q.column("truth")))
        q = q.append_column("skewed", pc.equal(q.column("conv_id"), SKEW_CONV))
        _write_files(q, self.data / "query")
        self.n_query = q.num_rows

    def op(self, spark, tracer):
        from pyspark.sql import functions as F

        from poppy_spark.sketches import CmsSketch, HllSketch, KllSketch
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.probe import bloom_contains_grouped_join

        t = self._turns(spark)
        out = {}
        with tracer.span("agg.build_sketch_grouped.hll"):
            out["hll"] = build_sketch_grouped(
                t, "conv_id", ["role", "day"], HllSketch.factory(HLL_P)).collect()
        with tracer.span("agg.build_sketch_grouped.cms"):
            out["cms"] = build_sketch_grouped(
                t.filter(F.col("tool").isNotNull()), "tool", ["role", "week"],
                CmsSketch.factory(CMS_W, CMS_D)).collect()
        with tracer.span("agg.build_sketch_grouped.kll"):
            out["kll"] = build_sketch_grouped(
                t, "len", ["role", "day"], KllSketch.factory(KLL_K)).collect()
        with tracer.span("agg.build_sketch_grouped.bloom"):
            states = build_sketch_grouped(t, "text", ["conv_id"], _bloom_factory(CONV_CAPACITY),
                                          shuffle="rows").persist()
            out["bloom_groups"] = states.count()
        try:
            q = spark.read.parquet(str(self.data / "query"))
            with tracer.span("probe.grouped_join"):
                rows = (bloom_contains_grouped_join(q, "text", "conv_id", states)
                        .groupBy("truth", "skewed", "hit").count().collect())
        finally:
            states.unpersist()
        out["probe"] = {(r["truth"], r["skewed"], r["hit"]): r["count"] for r in rows}
        return out

    # -- checks ----------------------------------------------------------------
    def _hll_errors(self, out) -> list[tuple[float, int]]:
        """(absolute error, exact count) per role x day group."""
        from poppy_spark.sketches import HllSketch

        errs = []
        for r in out["hll"]:
            true = self.hll_true[(r["role"], r["day"])]
            errs.append((abs(HllSketch.loads(bytes(r["state"])).estimate() - true), true))
        return errs

    def check(self, out) -> list[str]:
        from poppy_spark.sketches import CmsSketch, HllSketch, KllSketch

        fails = []
        rse = HllSketch(HLL_P).relative_error()
        errs = self._hll_errors(out)
        if len(errs) != len(self.hll_true):
            fails.append("HLL groups missing")
        bad = sum(e > HLL_SIGMAS * rse * n + HLL_SLACK for e, n in errs)
        if bad:
            fails.append(f"{bad} HLL groups beyond {HLL_SIGMAS} standard errors")
        if len(out["cms"]) != len(self.cms_true):
            fails.append("CMS groups missing")
        for r in out["cms"]:
            sk = CmsSketch.loads(bytes(r["state"]))
            true = self.cms_true[(r["role"], r["week"])]
            tools = sorted(true)
            est = sk.query_keys(tools)
            exact = np.array([true[k] for k in tools])
            if (est < exact).any():
                fails.append(f"CMS under-count in {r['role']} {r['week']}")
            if (est > exact + sk.eps * sk.total()).any():
                fails.append(f"CMS over eps*N in {r['role']} {r['week']}")
            if sk.total() != exact.sum():
                fails.append(f"CMS total wrong in {r['role']} {r['week']}")
        if len(out["kll"]) != len(self.kll_true):
            fails.append("KLL groups missing")
        for r in out["kll"]:
            sk = KllSketch.loads(bytes(r["state"]))
            vals, cum = self.kll_true[(r["role"], r["day"])]
            n = cum[-1]
            for q in KLL_QS:
                x = sk.quantile(q)
                i = np.searchsorted(vals, x)
                below = cum[i - 1] / n if i else 0.0
                upto = cum[i] / n if i < len(vals) and vals[i] == x else below
                if not (below - sk.eps() <= q <= upto + sk.eps()):
                    fails.append(f"KLL q{q} rank outside eps in {r['role']} {r['day']}")
        pr = out["probe"]
        fn = pr.get((True, False, False), 0) + pr.get((True, True, False), 0)
        if fn:
            fails.append(f"{fn} per-conversation false negatives")
        if sum(pr.values()) != self.n_query:
            fails.append("grouped probe lost rows")
        fp, tn = pr.get((False, False, True), 0), pr.get((False, False, False), 0)
        if fp / max(1, fp + tn) > FPR_TOLERANCE * FPP:
            fails.append("per-conversation FPR above tolerance")
        if out["bloom_groups"] != self.n_convs:
            fails.append("per-conversation filters missing")
        return fails

    def quality(self, out) -> dict[str, float]:
        from poppy_spark.sketches import HllSketch

        rse = HllSketch(HLL_P).relative_error()
        errs = self._hll_errors(out)
        rel = np.array([e / n for e, n in errs])
        # groups below sqrt(m) are nearly always exact, and how many of
        # them a seed's time range makes would otherwise set the mean
        big = np.array([e / n for e, n in errs if n >= HLL_MEAN_MIN])
        return {
            "hll_rel_err": float(rel.max()),
            "hll_mean_rel_err": float(big.mean()),
            "err_ratio": float(big.mean() / rse),
        }

    def replay(self, spark, clock, out) -> list[str]:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        import replay
        from poppy_spark.sketches import CmsSketch, HllSketch, KllSketch

        t = self._turns(spark)
        pid = F.spark_partition_id().alias("pid")
        fails = []
        # key columns as the grouped build ships them: HLL keys hashed in
        # the JVM, CMS keys as text, KLL's integer column cast to text
        hll = replay.grouped_states(
            clock, "hll", t.select("role", "day", F.xxhash64("conv_id").alias("k"), pid).toArrow(),
            ["role", "day"], "k", HllSketch.factory(HLL_P))
        if hll != {(r["role"], r["day"]): bytes(r["state"]) for r in out["hll"]}:
            fails.append("replayed HLL states differ from Spark's")
        cms = replay.grouped_states(
            clock, "cms", t.filter(F.col("tool").isNotNull()).select("role", "week", "tool", pid).toArrow(),
            ["role", "week"], "tool", CmsSketch.factory(CMS_W, CMS_D))
        if cms != {(r["role"], r["week"]): bytes(r["state"]) for r in out["cms"]}:
            fails.append("replayed CMS states differ from Spark's")
        kll = replay.grouped_states(
            clock, "kll", t.select("role", "day", F.col("len").cast("string").alias("k"), pid).toArrow(),
            ["role", "day"], "k", KllSketch.factory(KLL_K))
        if set(kll) != {(r["role"], r["day"]) for r in out["kll"]}:
            fails.append("replayed KLL groups differ from Spark's")
        rows = t.select("conv_id", "text").toArrow().sort_by("conv_id")
        built = replay.grouped_bloom_rows(clock, rows, _bloom_factory(CONV_CAPACITY))
        clock.n["core.state_bytes"] = sum(len(sk.dumps()) for sk in built.values())
        query = pq.read_table(self.data / "query", columns=["conv_id", "text", "truth", "skewed"])
        if replay.grouped_bloom_probe(clock, query.sort_by("conv_id"), built) != out["probe"]:
            fails.append("replayed grouped probe differs from Spark's")
        return fails


WORKLOADS = {w.name: w for w in (BulkBuild, BulkProbe, BucketRollup)}
