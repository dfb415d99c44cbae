"""The DBLP workload: the weekly refresh and a delta applied beside
reads build the tables, then two clients run the interactive lookups.
Every call into the engine goes through its public functions; the
benchmark only generates inputs and checks outputs."""

from __future__ import annotations

import bisect
import os
import random
import shutil
import threading
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from is3107datapipelineproject_spark.domain import publications as P
from is3107datapipelineproject_spark.operators.incremental import incremental_merge
from is3107datapipelineproject_spark.plans import layout as L
from is3107datapipelineproject_spark.sources.fetch import fetch_to_staging, load_staged
from is3107datapipelineproject_spark.sources.xml_source import xml_flatten

import gen_dblp as G
from harness import Check, OpLog, closed_loop, dir_stats, median, python_worker_cpu_s

# Request mix of the interactive loop (kind, weight).
MIX = (("i1", 35), ("i2", 35), ("q1", 20), ("q3", 10))
MIX_BLOCK = 20  # requests per block that holds the mix exactly
# Requests of the set-up warm-up after the delta.  The lookup path's
# latency settles within about 100 lookups of a fresh session; the reads
# beside the delta give the first 15-30.
WARMUP_REQUESTS = 3 * MIX_BLOCK
ABSENT_SHARE = 0.10
PUBS_COLS = ("year", "category")
PC_COLS = ("year",)
# How Spark reports a file or directory that vanished under a reader.
MISSING_FILE = ("FILE_NOT_EXIST", "FileNotFoundException", "PATH_NOT_FOUND")


class Tables:
    """Paths of one refresh's outputs under ``root``."""

    def __init__(self, root: str):
        self.root = root
        self.staging = f"{root}/staging"
        self.pubs = f"{root}/publications"
        self.pairs = f"{root}/pair_counts"
        self.logs = f"{root}/logs"
        self.bridge = "author_bridge"


def researchers_frame(spark, researchers, cpus: int):
    rows = [(r.pid, r.name) for r in researchers]
    return spark.createDataFrame(rows, ["PID", "Name"]).repartition(cpus)


def refresh(ctx, origin: str, researchers, t: Tables, run_ts: str) -> None:
    """The weekly job: fetch every page, parse, derive, key-dedup, write
    the partitioned publications table, the author bridge, the
    year-partitioned pair counts and the two log tables."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("fetch.stage") as sp:
        fetch_to_staging(researchers_frame(spark, researchers, ctx.cpus), t.staging,
                         G.origin_transport(origin))
    if sp is not None:
        sp.counts.update(dir_stats(t.staging, error_prefix=b"fetch error"))
    with tr.span("xml.parse") as sp:
        cpu0 = python_worker_cpu_s() if sp is not None else 0.0
        staged = load_staged(spark, t.staging)
        raw = tr.force(xml_flatten(staged, "content", "researcher_name"))
    if sp is not None:
        sp.counts["python_cpu_s"] = python_worker_cpu_s() - cpu0
        with tr.span("bench.bookkeeping"):
            sp.counts["records_out"] = raw.count()
            sp.counts["pages_in"] = staged.count()
            sp.counts["pages_parsed"] = raw.select("source_name").distinct().count()
    with tr.span("domain.derive") as sp:
        pubs = tr.force(P.derive_publications(raw).dropDuplicates(["paper_key"]))
    if sp is not None:
        with tr.span("bench.bookkeeping"):
            sp.counts["unique_out"] = pubs.count()
    write_table(ctx, "layout.write_partitioned", lambda: L.write_partitioned(pubs, t.pubs), t.pubs)
    stored = L.read_partitioned(spark, t.pubs)
    with tr.span("layout.bridge"):
        P.materialize_author_bridge(stored, t.bridge)
    with tr.span("pair_counts") as sp:
        pc = tr.force(P.dblp_pair_counts(stored))
    if sp is not None:
        with tr.span("bench.bookkeeping"):
            sp.counts["rows_out"] = pc.count()
    write_table(ctx, "layout.write_partitioned",
                lambda: L.write_partitioned(pc, t.pairs, PC_COLS, ("author1", "author2")), t.pairs)
    with tr.span("layout.write_log"):
        L.write_log_table(P.volume_log(stored, stored, run_ts), t.logs, "volume_update")
        L.write_log_table(P.publication_update_log(stored, run_ts), t.logs, "publication_update")
    if tr.enabled:
        for df in (raw, pubs, pc):
            df.unpersist()


def write_table(ctx, name: str, write, path: str) -> None:
    tr = ctx.tracer
    t0 = time.time()
    with tr.span(name) as sp:
        write()
    if sp is not None:
        sp.counts.update(dir_stats(path, since=t0))


# -- checking -------------------------------------------------------------


def read_tables(spark, t: Tables) -> tuple[list, list]:
    """The publications and pair-count tables as the checker compares them."""
    pubs = [
        (r.paper_key, r.year, r.category, r.publisher,
         tuple((a.pos, a.pid) for a in r.authors), tuple(r.ee), str(r.mdate))
        for r in L.read_partitioned(spark, t.pubs)
        .select("paper_key", "year", "category", "publisher", "authors", "ee", "mdate").collect()
    ]
    pairs = [(r.year, r.author1, r.author2, r["count"]) for r in L.read_partitioned(spark, t.pairs).collect()]
    return pubs, pairs


def check_refresh(spark, check: Check, t: Tables, world, fetched: set[str]) -> None:
    """Compare every output table of a refresh with the model."""
    pubs, pairs = read_tables(spark, t)
    vol = [(r.total_new, r.total_unique) for r in spark.read.parquet(f"{t.logs}/volume_update").collect()]
    problems = refresh_problems(
        G.visible_papers(world, fetched), pubs, pairs, spark.table(t.bridge).count(), vol,
        spark.read.parquet(f"{t.logs}/publication_update").count(),
    )
    check.expect("weekly_refresh", not problems, "; ".join(problems))


def check_tables(spark, check: Check, t: Tables, visible: dict) -> None:
    """Compare the publications and pair-count tables with a model state."""
    problems = table_problems(visible, *read_tables(spark, t))
    check.expect("tables_after_delta", not problems, "; ".join(problems))


def table_problems(visible: dict, pubs, pairs) -> list[str]:
    """How the publications and pair-count tables differ from the model."""
    problems = []
    want = sorted(G.pub_row(p) for p in visible.values())
    if sorted(pubs) != want:
        problems.append(f"publications: {len(pubs)} rows differ from {len(want)} expected")
    got_pc = Counter()
    for year, a1, a2, c in pairs:
        got_pc[(year, a1, a2)] += c
    want_pc = G.pair_counts(visible.values())
    if got_pc != want_pc:
        bad = [k for k in got_pc.keys() | want_pc.keys() if got_pc[k] != want_pc[k]]
        problems.append(f"pair_counts: {len(bad)} pairs differ, e.g. {sorted(bad, key=str)[:3]}")
    return problems


def refresh_problems(visible: dict, pubs, pairs, n_bridge: int, volume, n_update: int) -> list[str]:
    """Every way the refresh outputs differ from the model's visible papers."""
    problems = table_problems(visible, pubs, pairs)
    want_bridge = sum(len(p.authors) for p in visible.values())
    if n_bridge != want_bridge:
        problems.append(f"author_bridge: {n_bridge} rows vs {want_bridge}")
    if list(volume) != [(len(visible), len(visible))]:
        problems.append(f"volume_update: {volume}")
    if n_update != len(visible):
        problems.append(f"publication_update: {n_update} rows vs {len(visible)}")
    return problems


# -- lookups --------------------------------------------------------------


class Truth:
    """Per-request answers over one table state, indexed by pid."""

    def __init__(self, papers: dict):
        self.papers = papers
        self.by_pid: dict[str, list] = defaultdict(list)
        for p in papers.values():
            for pid in set(p.pids):
                self.by_pid[pid].append(p)
        self._pairs = None

    @property
    def pairs(self) -> Counter:
        if self._pairs is None:
            self._pairs = G.pair_counts(self.papers.values())
        return self._pairs

    def answer(self, req):
        kind, a = req
        mine = self.by_pid.get(a[-1] if kind == "i1" else a[0], ())
        if kind == "i1":
            year, category, pid = a
            return G.contains_answer(mine, year, category, pid)
        if kind == "i2":
            year, a1, a2 = a
            c = self.pairs.get((year, a1, a2))
            return [] if c is None else [c]
        if kind == "q1":
            pid, n, years = a
            return G.q1_answer(mine, pid, n, years)
        return G.collab_answer(mine, a[0])


def make_requests(seed: int, world, truth: Truth, n: int) -> list:
    """The interactive mix: researchers drawn Zipf by rank, 10 % absent
    keys.  Kinds come in shuffled blocks of 20 that hold the mix exactly,
    and each kind draws its Zipf quantiles and its absent keys from
    shuffled strata of 10, so every window of the loop sees nearly the
    same share of heavy and light keys."""
    rng = random.Random(seed ^ 0x5EED)
    ranked = [r.pid for r in world.researchers if truth.by_pid.get(r.pid)]
    cdf = G._zipf_cdf(len(ranked), 0.9)
    block = [kind for kind, weight in MIX for _ in range(weight * MIX_BLOCK // 100)]
    quantiles = {kind: _strata(rng, 10) for kind, _ in MIX}
    absents = {kind: _strata(rng, 10) for kind, _ in MIX}
    out = []
    while len(out) < n:
        kinds = block[:]
        rng.shuffle(kinds)
        for kind in kinds:
            pid = ranked[bisect.bisect_left(cdf, next(quantiles[kind]) * cdf[-1])]
            papers = [p for p in truth.by_pid[pid] if p.year is not None] or list(truth.by_pid[pid])
            absent = next(absents[kind]) < ABSENT_SHARE
            other = f"{rng.randrange(50)}/{rng.randrange(900_000, 999_999)}"  # never generated
            p = rng.choice(papers)
            year = p.year if p.year is not None else G.YEARS[0]
            if kind == "i1":
                out.append(("i1", (year, p.category, other if absent else pid)))
            elif kind == "i2":
                mates = sorted(set(p.pids) - {pid})
                mate = other if absent or not mates else rng.choice(mates)
                a1, a2 = sorted((pid, mate))
                out.append(("i2", (year, a1, a2)))
            elif kind == "q1":
                y0 = rng.choice(G.YEARS[:-2])
                out.append(("q1", (other if absent else pid, rng.randrange(1, 4), (y0, y0 + 1, y0 + 2))))
            else:
                out.append(("q3", (other if absent else pid,)))
    return out


def _strata(rng: random.Random, k: int):
    """Endless uniform draws in [0, 1), each run of ``k`` hitting each of
    the ``k`` strata once, in shuffled order."""
    while True:
        order = list(range(k))
        rng.shuffle(order)
        for j in order:
            yield (j + rng.random()) / k


def open_tables(spark, t: Tables) -> tuple:
    """A reader's handles on the publications and pair-count tables.  Each
    lists its files once; a reader opens new handles after a commit."""
    return L.read_partitioned(spark, t.pubs), L.read_partitioned(spark, t.pairs)


def run_request(ctx, tables: tuple, req):
    """One interactive request on open table handles: the engine's query
    for the request, then collect."""
    tr = ctx.tracer
    pubs, pairs = tables
    kind, a = req
    with tr.span(f"lookup.{kind}") as top:
        with tr.span("lookup.plan") as sp:
            if kind == "i2":
                year, a1, a2 = a
                df = P.pair_lookup(pairs, year, a1, a2).select("count")
            else:
                if kind == "i1":
                    year, category, pid = a
                    part = pubs.filter((F.col("year") == year) & (F.col("category") == category))
                    df = P.contains_author(part, pid).select("paper_key")
                elif kind == "q1":
                    pid, n, years = a
                    df = P.q1_nth_author_count(pubs, pid, n, list(years))
                else:
                    df = P.collab_totals(pubs, a[0])
            if sp is not None:
                df._jdf.queryExecution().executedPlan()
        with tr.span("lookup.exec"):
            rows = df.collect()
    if top is not None:
        files, scanned = scan_stats(df)
        top.counts["files_read"] = files
        top.counts["rows_scanned"] = scanned
        top.counts["rows_returned"] = len(rows)
    if kind == "i1":
        return sorted(r[0] for r in rows)
    if kind == "i2":
        return [r[0] for r in rows]
    if kind == "q1":
        return rows[0][0]
    return {r.partner: r.total for r in rows}


def scan_stats(df) -> tuple[int, int]:
    """Files read and rows output by the file scans of an executed plan."""
    files = rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            metrics = node.metrics()
            files += metrics.apply("numFiles").value()
            rows += metrics.apply("numOutputRows").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return files, rows


# -- the workload ---------------------------------------------------------


class InteractiveLookups:
    """Closed loop, 2 clients sharing one session, over tables that
    set-up builds and then updates:

    1. the weekly refresh, run cold over the generated origin;
    2. one weekly delta, applied by a writer while a reader runs the mix
       beside it; after the commit every new and deleted key of the delta
       is looked up;
    3. a warm-up of the mix alone, checked against the state after the
       delta;
    4. the window: the same, timed.

    Writer and reader in step 2 do not coordinate.  Plain parquet gives a
    reader no snapshot isolation, so a read whose table was swapped while
    it ran may see the state before or after the swap, and may also fail
    on a file the swap removed or see neither.  Those last two are counted
    and reported as swap read errors; every other read must match the
    state its table handles list, and any other exception fails the run."""

    n_researchers = 200
    clients = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.gen = G.DblpGenerator(ctx.seed, self.n_researchers)
        self.world = self.gen.world()
        self.origin = f"{ctx.root}/origin"
        self.origin_bytes = G.write_origin(self.world, self.origin)
        before = G.visible_papers(self.world, self.world.reachable_pids())
        world, self.chosen = self.gen.delta(self.world)
        self.delta_origin = f"{ctx.root}/delta"
        G.write_origin(world, self.delta_origin, self.chosen)
        # The model of the merge: scope = the delta's researchers,
        # insert-only upsert, deletion of scoped keys no page lists.
        scope = {r.pid for r in self.chosen}
        parsed = {k: p for k, p in world.papers.items() if scope & set(p.pids)}
        known = {k for k, p in before.items() if scope & set(p.pids)}
        self.new = {k: parsed[k] for k in parsed.keys() - known}
        self.deleted = {k: before[k] for k in known - parsed.keys()}
        after = {k: p for k, p in before.items() if k not in self.deleted}
        after.update(self.new)
        self.states = (Truth(before), Truth(after))
        # the window's stream of whole mix blocks, and a separate one for
        # the reader beside the delta
        self.requests = iter(make_requests(ctx.seed, self.world, self.states[0], 5_000))
        self.setup_requests = iter(make_requests(ctx.seed + 1, self.world, self.states[0], 5_000))
        self.tables = Tables(f"{ctx.root}/tables")
        self.swaps = 0  # file swaps begun plus swaps finished; odd during one
        self.swap_errors: list[str] = []
        self.stale_partitions: list[str] = []
        self.writer_log = OpLog()
        self.delta_reader_log = OpLog()
        self.warm_log = OpLog()

    def sizes(self) -> dict:
        before = self.states[0]
        return {"pages": self.n_researchers, "origin_bytes": self.origin_bytes,
                "papers": len(before.papers), "pairs": len(before.pairs),
                "delta_pages": len(self.chosen), "delta_new": len(self.new),
                "delta_deleted": len(self.deleted)}

    def setup(self) -> float:
        """Refresh, check, the delta beside reads, check, warm-up; returns
        the seconds of the refresh, the delta and the warm-up, without the
        checks."""
        t0 = time.perf_counter()
        refresh(self.ctx, self.origin, self.world.researchers, self.tables, "2024-01-01 00:00:00")
        t1 = time.perf_counter()
        self.refresh_s = t1 - t0
        check_refresh(self.ctx.spark, self.ctx.check, self.tables, self.world,
                      self.world.reachable_pids())
        t2 = time.perf_counter()
        reads = self.serve_delta()
        t3 = time.perf_counter()
        self._check_reads(reads)
        check_tables(self.ctx.spark, self.ctx.check, self.tables, self.states[1].papers)
        self.warm_up_s = self._loop(self.setup_requests, self.warm_log,
                                    lambda issued: issued >= WARMUP_REQUESTS, [])
        return (t1 - t0) + (t3 - t2) + self.warm_up_s

    def apply_delta(self) -> None:
        ctx, tr, t = self.ctx, self.ctx.tracer, self.tables
        spark = ctx.spark
        staging = f"{t.root}/delta_staging"
        with tr.span("fetch.stage") as sp:
            fetch_to_staging(researchers_frame(spark, self.chosen, ctx.cpus), staging,
                             G.origin_transport(self.delta_origin))
        if sp is not None:
            sp.counts.update(dir_stats(staging, error_prefix=b"fetch error"))
        with tr.span("xml.parse") as sp:
            raw = tr.force(xml_flatten(load_staged(spark, staging), "content", "researcher_name"))
        if sp is not None:
            with tr.span("bench.bookkeeping"):
                sp.counts["records_out"] = raw.count()
        with tr.span("domain.derive"):
            parsed = tr.force(P.derive_publications(raw).dropDuplicates(["paper_key"]))
        scope = [r.pid for r in self.chosen]
        stored = L.read_partitioned(spark, t.pubs)
        known = stored.filter(F.exists("authors", lambda a: a["pid"].isin(scope)))
        with tr.span("incremental.merge") as sp:
            m = incremental_merge(known, parsed, "paper_key")
            new = m.new.select(*stored.columns).localCheckpoint()
            deleted = m.deleted.select("paper_key", *PUBS_COLS).localCheckpoint()
            touched = {tuple(r) for r in new.select(*PUBS_COLS).union(
                deleted.select(*PUBS_COLS)).distinct().collect()}
        if sp is not None:
            with tr.span("bench.bookkeeping"):
                sp.counts["new_rows"] = new.count()
                sp.counts["deleted_rows"] = deleted.count()
        if touched:
            cond = F.lit(False)
            for y, c in touched:
                cond = cond | ((F.col("year") == y) & (F.col("category") == c))
            updated = L.insert_only_upsert(
                L.delete_by_key(stored.filter(cond), deleted, "paper_key"), new, "paper_key"
            ).localCheckpoint()
            self._overwrite(updated, t.pubs, PUBS_COLS, ("paper_key",), touched)
            years = sorted({y for y, _ in touched})
            fresh = L.read_partitioned(spark, t.pubs).filter(F.col("year").isin(years))
            with tr.span("pair_counts") as sp:
                pc = P.dblp_pair_counts(fresh).localCheckpoint()
            if sp is not None:
                with tr.span("bench.bookkeeping"):
                    sp.counts["rows_out"] = pc.count()
            self._overwrite(pc, t.pairs, PC_COLS, ("author1", "author2"), {(y,) for y in years})
        for df in (raw, parsed):
            df.unpersist()
        shutil.rmtree(staging, ignore_errors=True)

    def _overwrite(self, df, path, cols, sort_cols, touched) -> None:
        """The engine's dynamic overwrite of the touched partitions, as
        one file swap.  A touched partition that the delta emptied gets no
        output file, so the old rows stay; such partitions are counted and
        left for the table check to flag."""
        t0 = time.time()
        self.swaps += 1
        with self.ctx.tracer.span("layout.overwrite_touched") as sp:
            L.overwrite_touched_partitions(df, path, cols, sort_cols)
        self.swaps += 1
        if sp is not None:
            sp.counts.update(dir_stats(path, since=t0))
        for part in touched:
            sub = os.path.join(path, *(f"{c}={v}" for c, v in zip(cols, part)))
            if os.path.isdir(sub) and dir_stats(sub, since=t0)["files"] == 0:
                self.stale_partitions.append(sub)

    def serve_delta(self) -> list:
        """Apply the delta with a writer while a reader runs the mix
        beside it, then look up every new and deleted key of the delta;
        returns the reads."""
        reads = []
        stop = threading.Event()
        handles = {"at": None}  # the swap count when the handles were opened

        def read_once(req):
            now = self.swaps
            if handles["at"] != now:
                try:
                    handles["tables"] = open_tables(self.ctx.spark, self.tables)
                except Exception as exc:
                    # the listing overlapped a swap of either table
                    if (now % 2 or self.swaps != now) and missing_file(exc):
                        self.swap_errors.append(f"{req}: {missing_file(exc)} opening the tables")
                        return
                    raise
                handles["at"] = now
            opened = handles["at"]
            try:
                ans = run_request(self.ctx, handles["tables"], req)
            except Exception as exc:
                if len(read_states(req[0], opened, self.swaps)) > 1 and missing_file(exc):
                    self.swap_errors.append(f"{req}: {missing_file(exc)}")
                    return
                raise
            reads.append((req, ans, read_states(req[0], opened, self.swaps)))

        def reader():
            while not stop.is_set():
                req = next(self.setup_requests)
                self.delta_reader_log.run(lambda: read_once(req))

        th = threading.Thread(target=reader, name="reader")
        th.start()
        try:
            self.writer_log.run(self.apply_delta)
        finally:
            stop.set()
            th.join()
        # every new and deleted key, through Interactive-1
        for p in list(self.new.values()) + list(self.deleted.values()):
            if p.year is not None and p.pids:
                req = ("i1", (p.year, p.category, p.pids[0]))
                self.delta_reader_log.run(lambda: read_once(req))
        return reads

    def _check_reads(self, reads) -> None:
        wrong = {id(r) for r in wrong_reads(reads, self.states)}
        for read in reads:
            req, ans, states = read
            if id(read) in wrong and len(states) > 1:
                self.swap_errors.append(f"{req}: answer of neither state: {ans}")
                continue
            self.ctx.check.expect(f"lookup.{req[0]}", id(read) not in wrong,
                                  f"{req} at state {states}: {ans}")

    def measure(self, seconds: float, log: OpLog) -> None:
        """Run whole blocks of the mix until ``seconds`` have passed, so
        every window holds the mix exactly."""
        deadline = time.perf_counter() + seconds
        self.kind_ms = []
        self._loop(self.requests, log,
                   lambda issued: time.perf_counter() >= deadline and issued % MIX_BLOCK == 0,
                   self.kind_ms)

    def _loop(self, requests, log: OpLog, until, kind_ms: list) -> float:
        """The clients' closed loop over ``requests`` on the state after the
        delta, until ``until(requests issued)`` holds; checks every answer
        and returns the loop's seconds, without the check."""
        reads = []
        lock = threading.Lock()
        issued = 0

        def done() -> bool:
            with lock:
                return until(issued)

        def op():
            nonlocal issued
            with lock:
                issued += 1
                req = next(requests)
            t0 = time.perf_counter()
            ans = run_request(self.ctx, tables, req)
            kind_ms.append((req[0], (time.perf_counter() - t0) * 1e3))
            reads.append((req, ans, (1,)))

        t0 = time.perf_counter()
        tables = open_tables(self.ctx.spark, self.tables)
        closed_loop(0, self.clients, op, log, until=done)
        seconds = time.perf_counter() - t0
        self._check_reads(reads)
        return seconds

    def report(self) -> list[str]:
        by_kind = {}
        for kind, ms in self.kind_ms:
            by_kind.setdefault(kind, []).append(ms)
        rlat = self.delta_reader_log.latencies_ms()
        return [
            "# window p50_ms by kind " + ", ".join(
                f"{k} {median(v):.0f} (n={len(v)})" for k, v in sorted(by_kind.items())),
            f"# set-up refresh_s {self.refresh_s:.3f}, delta_apply_s "
            f"{[round(x / 1e3, 3) for x in self.writer_log.latencies_ms()]}; "
            f"lookups beside it {len(rlat)} p50_ms {median(rlat):.1f}; warm-up "
            f"{len(self.warm_log.spans)} lookups {self.warm_up_s:.3f} s",
            f"# swap read errors {len(self.swap_errors)} {self.swap_errors[:5]}",
            f"# stale partitions left by the delta {len(self.stale_partitions)} "
            f"{self.stale_partitions[:5]}",
        ]


def missing_file(exc: Exception) -> str:
    """The marker of a missing-file error in ``exc``'s text, or ''."""
    text = str(exc)
    return next((m for m in MISSING_FILE if m in text), "")


def read_states(kind: str, opened: int, ended: int) -> tuple[int, ...]:
    """The table states (0 before the delta, 1 after) a read may see when
    its handles were opened at swap count ``opened`` and it ended at
    ``ended``.  The publications swap runs from count 1 to 2, the
    pair-count swap from 3 to 4."""
    committed = 4 if kind == "i2" else 2
    return tuple(range(int(opened >= committed), int(ended >= committed - 1) + 1))


def wrong_reads(reads, states) -> list:
    """The ``(request, answer, allowed)`` reads whose answer differs from
    the model's answer in every table state of ``allowed``."""
    return [r for r in reads if all(r[1] != states[v].answer(r[0]) for v in r[2])]
