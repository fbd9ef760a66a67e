"""Batch executor — detector → cache rewrite → concurrent FAIR-pool run.

The modern form of the reference's optimize/rewrite/schedule pipeline
(WorksharingExecutor.scala:65-98 → OptimizationExecutor →
RewriteExecutor → FIFOStrategy):

- analyze the batch's jobs concurrently and detect sharing bags
  (detector.py, ≙ ScanSharing);
- for shared bags, cache the common relations (cache.py, ≙ the
  Caching rewrite — but declaratively: cacheTable + Catalyst's
  InMemoryRelation substitution replaces DAG surgery); the cache is
  materialized before the pool opens (≙ FIFOStrategy.scala:64-77
  cache-first ordering);
- run everything else as ONE bounded pool of concurrent tasks in FAIR
  scheduler pools (≙ FIFOStrategy's JobConcurrent threads :107-111,
  bounded instead of unbounded raw threads — SURVEY.md §7 hard-part
  #3). Each MRShare merge (mrshare.py) is one task beside the unmerged
  jobs: it collects the result-sized merged aggregate once into a
  driver-local relation, and its members' demux queries over that
  relation fold to local scans without launching a Spark job. The
  unmerged jobs are submitted once the merges' scans have started, so
  the scan several clients wait on gets the free cores first.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import SparkSession

from sparksql_server_spark.plans.analysis import scan_fingerprints, scan_nodes
from sparksql_server_spark.server.batcher import preschedule
from sparksql_server_spark.server.cache import CacheManager
from sparksql_server_spark.server.detector import detect_sharing
from sparksql_server_spark.server.model import JobStatus, QueryJob, RewriteKind, SharingBag
from sparksql_server_spark.server.mrshare import MergePlan, plan_merges

MAX_INLINE_ROWS = 10_000
# rows a merged aggregate may hold: it is collected into the driver
# JVM, so a larger one is no longer the small grouped table a merge
# exists for — its members fall back to their own SQL instead
MAX_MERGED_ROWS = 100_000
# longest the unmerged jobs of a batch wait for its merges' scans to
# start (_await_merge_scans); planning a merge takes ~0.1 s
MERGE_HEAD_START_S = 1.0


class BatchExecutor:
    """Executes window batches of QueryJobs over one SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        cache: CacheManager | None = None,
        max_concurrency: int = 16,
        source_views: dict[str, str] | None = None,
        enable_mrshare: bool = True,
        mrshare_max_grouping_sets: int = 1,
        mrshare_min_bytes: int = 64 << 20,
    ) -> None:
        self.spark = spark
        self.cache = cache or CacheManager(spark)
        self.max_concurrency = max_concurrency
        # MRShare-style aggregation merging (server/mrshare.py ≙ B8).
        # Same-signature merges replace N scans + N shuffles with one
        # of each (measured ~2x faster than both concurrent-unmerged
        # and the caching rewrite on a 700 MB CSV scan at sf0.1);
        # cross-signature merges go through GROUPING SETS, whose Expand
        # replicates input rows once per distinct set — measured a
        # WALL-CLOCK COIN FLIP at the same scale, so they DECLINE BY
        # DEFAULT (round 9, VERDICT r8 ask #4). Calibration
        # (tools/gsets_calibrate.py, 8x CSV fact at sf0.1, local[32],
        # 3 trials/leg): merged vs concurrent medians 1.25/1.31 s at 2
        # sets, 1.15/1.14 at 3, 1.33/1.42 at 4 — parity at every set
        # count, because an otherwise-idle 32-thread box hides the
        # extra scans inside concurrent parallelism exactly as well as
        # the merge removes them (total CPU is lower merged; wall
        # clock isn't). A rewrite that cannot be shown to win stays
        # out of the hot path; deployments whose executors run at
        # contention (where saved scans ARE saved wall-clock) opt in
        # with mrshare_max_grouping_sets >= 2. Same-signature merging
        # (no Expand) is unaffected by this default. The byte floor
        # is the merge's admission control, set when the merge was a
        # blocking persist + count followed by one demux Spark job per
        # member (measured then: merging 19 MB parquet scans made a
        # 2-query batch ~2x SLOWER). The merge now runs as a pool task
        # beside the unmerged jobs and demuxes without Spark jobs, so
        # that fixed cost is smaller; the floor stays at 64 MiB until a
        # workload measures a source below it. Same floor philosophy
        # as CacheManager.min_bytes, and the modern form of the lesson
        # in the reference's own MRShare evaluation.
        self.enable_mrshare = enable_mrshare
        self.mrshare_max_grouping_sets = mrshare_max_grouping_sets
        self.mrshare_min_bytes = mrshare_min_bytes
        self._schema_memo: dict = {}
        # source fingerprint (table root dir) -> registered view name
        self.source_views = dict(source_views or {})
        # job-group namespace unique to THIS executor: job ids restart
        # per instance, but cancelJobGroupAndFutureJobs persists on the
        # shared SparkContext — a bare "job{id}" group from a previous
        # executor (server restart, tests) would keep killing the new
        # instance's identically-named groups
        import uuid

        self._group_ns = uuid.uuid4().hex[:8]
        # running decision counters (the reference logged its optimizer
        # decisions per batch; this is the queryable form — see the
        # gateway's {"server_stats": true} request)
        self.stats: dict[str, int] = {
            "batches": 0,
            "jobs_run": 0,
            "jobs_failed": 0,
            "caching_bags": 0,
            "mrshare_merged_jobs": 0,
            "mrshare_plans": 0,
            "mrshare_demux_fallbacks": 0,
            # merges whose shared aggregate failed or outgrew
            # MAX_MERGED_ROWS: their members ran their own SQL
            "mrshare_merge_failures": 0,
            # deadline accounting (round 9, VERDICT r8 ask #7): jobs
            # that carried props.deadline_ms, and those that finished
            # past their instant — surfaced through server_stats so a
            # deployment can SEE misses instead of inferring them
            "deadline_jobs": 0,
            "deadline_misses": 0,
        }
        # counters are bumped from concurrent pool threads; a bare
        # 'dict[k] += 1' is a non-atomic read-modify-write that loses
        # updates under contention, and the failure/fallback counters
        # exist precisely to never under-report
        self._stats_lock = threading.Lock()
        self._is_query_memo: dict[str, bool] = {}

    def _bump_stat(self, key: str, n: int = 1) -> None:
        with self._stats_lock:
            self.stats[key] += n

    # -- analysis ---------------------------------------------------------

    def _is_query(self, sql: str) -> bool:
        """Memoized front of :meth:`_classify_sql` — the verdict is a
        pure function of the text, and the gateway consults it two to
        three times per request (intake, post-batch flush scan, JDBC
        answer path), each a serial py4j parse round-trip on a hot
        thread without this."""
        hit = self._is_query_memo.get(sql)
        if hit is None:
            hit = self._classify_sql(sql)
            with self._stats_lock:
                if len(self._is_query_memo) >= 4096:
                    self._is_query_memo.clear()  # crude bound; refill is cheap
                self._is_query_memo[sql] = hit
        return hit

    def _classify_sql(self, sql: str) -> bool:
        """True for plan-producing statements. Commands (DDL/DML —
        CREATE/INSERT/DROP/CACHE/SET…) execute EAGERLY at ``sql()``
        time in Spark, so fingerprinting them in analyze() would run
        them twice; they also never share scans, so they skip detection
        and execute exactly once in ``_run_job``.

        Classification PARSES the statement (no analysis, no
        execution) and checks the parsed plan against Catalyst's
        ``Command`` / ``ParsedStatement`` markers, unwrapping CTE
        nodes first. A keyword check is not enough — a CTE-led
        ``WITH s AS (...) INSERT INTO ...`` starts with a query
        keyword but is DML (round-1 bug: the old keyword whitelist
        executed such statements twice, once in analyze and once in
        the runner), and a leading comment hides the keyword entirely.
        Unparseable text is treated as a query so the real error
        surfaces from ``sql()`` in the normal path."""
        try:
            plan = (
                self.spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
            )
            # SQL-scripting blocks (BEGIN … END, Spark 4) parse to
            # CompoundBody — not a Command subclass, but sql() runs the
            # whole script eagerly, so the query path would execute it
            # twice and its arbitrary statements must never be
            # fingerprinted/merged. Route it down the execute-once
            # command path (which also invalidates the result cache —
            # scripts may contain DDL).
            if plan.getClass().getSimpleName() == "CompoundBody":
                return False
            # WITH wraps the main statement; classify what it wraps
            for _ in range(3):
                if plan.getClass().getSimpleName() in ("UnresolvedWith", "WithCTE"):
                    plan = plan.children().head()
                else:
                    break
            jcls = self.spark._jvm.java.lang.Class.forName
            for marker in (
                "org.apache.spark.sql.catalyst.plans.logical.Command",
                "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement",
            ):
                if jcls(marker).isInstance(plan):
                    return False
            return True
        except Exception:
            return True

    def _schema_fn_for(self, job: QueryJob):
        """Memoized catalog lookup for NATURAL-join normalization
        (round 12, VERDICT r11 ask #6): ``table -> column names`` via
        the job's own session (mirror sessions see their client's temp
        views), None on any resolution failure — the parser then
        declines, conservative as ever. The memo lives one batch
        (reset in run_batch)."""
        session = job.session or self.spark
        memo = self._schema_memo.setdefault(id(session), {})

        def lookup(tbl: str):
            if tbl not in memo:
                try:
                    memo[tbl] = [
                        f.name for f in session.table(tbl).schema.fields
                    ]
                except Exception:
                    memo[tbl] = None
            return memo[tbl]

        return lookup

    def analyze(self, job: QueryJob) -> None:
        """Resolve the job's plan (no execution) and fingerprint its scans."""
        if not self._is_query(job.sql):
            job.fingerprints = frozenset()
            return
        df = (job.session or self.spark).sql(job.sql)
        job.fingerprints = scan_fingerprints(df)
        # one formatted-plan render feeds both admission inputs
        for location, ncols, fmt in scan_nodes(df):
            if ncols is not None:
                job.read_cols[location] = max(job.read_cols.get(location, 0), ncols)
            if fmt is not None:
                job.read_formats[location] = fmt

    # -- execution --------------------------------------------------------

    def _analyze_or_fail(self, job: QueryJob) -> None:
        try:
            self.analyze(job)
        except Exception as exc:  # analysis error = job error
            job.status = JobStatus.ERROR
            job.error = f"{type(exc).__name__}: {exc}"
            self._bump_stat("jobs_failed")
            job.done_event.set()

    def run_batch(self, jobs: list[QueryJob]) -> list[SharingBag]:
        """Detect → rewrite → execute one batch; returns the bags for
        introspection/tests."""
        # NATURAL-join schema memo is BATCH-scoped: a temp view replaced
        # between batches must never feed a stale column set into a
        # USING resolution (round 12)
        self._schema_memo = {}
        # counted before any job can finish: a client that reads
        # server_stats right after its reply must see its batch
        self._bump_stat("batches")
        self._bump_stat("jobs_run", len(jobs))
        # each analysis is a py4j round-trip that waits on the JVM, so
        # the batch's jobs resolve side by side
        with ThreadPoolExecutor(max_workers=self.max_concurrency) as pool:
            list(pool.map(self._analyze_or_fail, [j for j in jobs if not j.fingerprints]))

        bags = detect_sharing([j for j in jobs if j.status is JobStatus.QUEUED])

        # MRShare merges are planned here and run as pool tasks below
        # (one scan+shuffle replaces N) — jobs they absorb are excluded
        # from the cache-admission count so a fully-merged bag doesn't
        # also burn cache budget on a relation that will now be scanned
        # once.
        merge_of: dict[int, tuple[MergePlan, SharingBag]] = {}
        if self.enable_mrshare:
            for bag in bags:
                if len(bag.jobs) < 2:
                    continue
                # prime-only jobs (jdbc_proxy window members) never
                # merge: their demux result would be discarded — the
                # client's own engine runs the full original statement
                # — so a merge admitted on their count is pure waste.
                # They still count for bag membership and cache
                # admission below, which IS their sharing payoff.
                for mp in plan_merges(
                    [
                        j
                        for j in bag.jobs
                        if j.status is JobStatus.QUEUED
                        and not j.props.get("prime_only")
                    ],
                    max_grouping_sets=self.mrshare_max_grouping_sets,
                    schema_fn_for=self._schema_fn_for,
                ):
                    if self._merge_source_bytes(mp) < self.mrshare_min_bytes:
                        continue  # scan too cheap to repay merge overhead
                    for job in mp.jobs:
                        job.props["rewritten_sql"] = mp.demux_sql[job.job_id]
                        merge_of[job.job_id] = (mp, bag)
                    bag.merges.append(mp)

        for bag in bags:
            self._apply_caching_rewrite(bag, exclude=set(merge_of))

        self._bump_stat(
            "caching_bags", sum(1 for b in bags if b.rewrite is RewriteKind.CACHING)
        )

        # cache-first ordering (≙ FIFOStrategy.scala:64-77) happens inside
        # _apply_caching_rewrite: ensure_cached materializes the shared
        # relation with a cheap count, so ALL jobs — bag #1 included —
        # then run concurrently on warm cache. Merges go next: each is
        # one task, in the FAIR pool of its most urgent member, and the
        # unmerged jobs follow once the merges' scans have started
        # (_await_merge_scans) — except deadline jobs, which never wait.
        #
        # Submission order re-applies the pre-scheduler key (ADVICE r9):
        # detect_sharing regrouped the prescheduled batch into bags, and
        # submitting in bag order would let a tight-deadline job grouped
        # into a LATER bag queue behind slack jobs whenever the batch
        # exceeds max_concurrency — the deadline_urgent FAIR pool only
        # helps once the Spark job has actually started.
        ordered = preschedule([job for bag in bags for job in bag.jobs])
        merge_tasks: dict[int, tuple[MergePlan, SharingBag, str]] = {}
        for job in ordered:
            if job.job_id in merge_of:
                mp, bag = merge_of[job.job_id]
                merge_tasks.setdefault(id(mp), (mp, bag, self._job_pool(job)))
        unmerged = [job for job in ordered if job.job_id not in merge_of]
        with ThreadPoolExecutor(max_workers=self.max_concurrency) as pool:
            futures = [
                pool.submit(self._run_job, job, self._job_pool(job))
                for job in unmerged
                if job.deadline_at is not None
            ]
            merges = {
                pool.submit(self._run_merge, mp, bag, pool_name, pool): mp
                for mp, bag, pool_name in merge_tasks.values()
            }
            self._await_merge_scans(merges)
            futures += list(merges) + [
                pool.submit(self._run_job, job, self._job_pool(job))
                for job in unmerged
                if job.deadline_at is None
            ]
            # read every result; a merge that rolled back hands back the
            # futures of its members' own runs
            while futures:
                futures = [g for f in futures for g in (f.result() or ())]
        for bag in bags:
            if bag.merges and bag.rewrite is RewriteKind.NOOP:
                bag.rewrite = RewriteKind.MRSHARE
        return bags

    # -- MRShare merge (B8) ----------------------------------------------

    def _merge_source_bytes(self, mp: MergePlan) -> int:
        """On-disk size of the scan the merge would share: the member
        jobs' common plan-leaf fingerprint (single-table aggregations
        have exactly one). Non-local URIs are priced through the Hadoop
        FileSystem (cache._dir_bytes), so cluster sources admit by their
        real size instead of silently declining. 0 when unknown —
        unknown declines."""
        from sparksql_server_spark.server.cache import _dir_bytes

        sets = [set(j.fingerprints) for j in mp.jobs if j.fingerprints]
        if not sets:
            return 0
        common = set.intersection(*sets)
        return max((_dir_bytes(s, self.spark) for s in common), default=0)

    def _await_merge_scans(self, merges: dict[Future, MergePlan]) -> None:
        """Wait until each merge has submitted its first Spark job (or
        ended), for at most MERGE_HEAD_START_S. A scan stage submitted
        first takes every free core, so the merge that several clients
        wait on runs at its solo speed while the unmerged jobs' tasks
        take the cores its tasks free. Submitted together, FAIR pools
        split the cores evenly and a scan of few coarse splits runs in
        two waves: measured on the 4-core shared_scan workload, members
        then waited ~10% longer than with the merge run alone first."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + MERGE_HEAD_START_S
        pending = dict(merges)
        while pending and time.monotonic() < deadline:
            time.sleep(0.005)
            pending = {
                f: mp
                for f, mp in pending.items()
                if not f.done() and not tracker.getJobIdsForGroup(f"{self._group_ns}-{mp.view}")
            }

    def _run_merge(
        self, mp: MergePlan, bag: SharingBag, pool_name: str, pool: ThreadPoolExecutor
    ) -> list[Future]:
        """One pool task per merge: the shared aggregate, then each
        member's demux. Members still queued are claimed first (a
        member cancelled before that is skipped, and with no member
        left the merged scan is skipped too); a member cancelled while
        the aggregate runs fails as cancelled at its demux, leaving
        the others their rows. The aggregate runs under its own job
        group, in the FAIR pool of the most urgent member."""
        members = [j for j in mp.jobs if self._claim(j)]
        ok = False
        if members:
            self._enter(mp.session or self.spark, pool_name, mp.view, mp.merged_sql)
            try:
                ok = self._materialize_merge(mp)
            finally:
                self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        if not ok:
            # roll back: the members run their own SQL, side by side,
            # and neither the plan nor its jobs count as merged
            with self._stats_lock:
                if members:  # a skipped merge did not fail
                    self.stats["mrshare_merge_failures"] += 1
                bag.merges.remove(mp)
            for job in mp.jobs:
                job.props.pop("rewritten_sql", None)
            return [pool.submit(self._execute, job, self._job_pool(job)) for job in members]
        with self._stats_lock:
            self.stats["mrshare_plans"] += 1
            self.stats["mrshare_merged_jobs"] += len(mp.jobs)
        try:
            for job in members:
                self._execute(job, self._job_pool(job))
        finally:
            self._release_merge(mp)
        return []

    def _materialize_merge(self, mp: MergePlan) -> bool:
        """Run the merged aggregate ONCE (the shared pass), collect its
        result-set-sized rows inside the JVM, and register them under
        ``mp.view`` as a LocalRelation — no row crosses py4j, and the
        members' demux queries over it fold to local scans. False —
        the members fall back to their own SQL — when the merge fails
        or holds more than MAX_MERGED_ROWS rows: a declined or failed
        merge costs one plan attempt, never correctness."""
        sess = mp.session or self.spark
        try:
            merged = sess.sql(mp.merged_sql)._jdf
            rows = merged.limit(MAX_MERGED_ROWS + 1).collectAsList()
            if rows.size() > MAX_MERGED_ROWS:
                return False
            local = sess._jsparkSession.createDataFrame(rows, merged.schema())
            local.createOrReplaceTempView(mp.view)
            return True
        except Exception:
            return False

    def _release_merge(self, mp: MergePlan) -> None:
        sess = mp.session or self.spark
        try:
            sess.catalog.dropTempView(mp.view)
        except Exception:  # session stopped mid-batch
            pass

    def _apply_caching_rewrite(
        self, bag: SharingBag, exclude: frozenset[int] | set[int] = frozenset()
    ) -> None:
        jobs = [j for j in bag.jobs if j.job_id not in exclude]
        if len(jobs) < 2 or not bag.shared_sources:
            return
        cached_any = False
        for source in sorted(bag.shared_sources):
            view = self.source_views.get(source)
            if view is None:
                continue
            fractions = self._read_fractions(source, view, jobs)
            fmt = next(
                (j.read_formats[source] for j in jobs if source in j.read_formats),
                None,
            )
            if self.cache.should_cache(
                source,
                n_sharers=len(fractions),
                read_fractions=fractions,
                source_format=fmt,
            ):
                cached_any |= self.cache.ensure_cached(source, view, source_format=fmt)
        if cached_any:
            bag.rewrite = RewriteKind.CACHING

    def _read_fractions(
        self, source: str, view: str, jobs: list[QueryJob]
    ) -> list[float]:
        """Per sharing job: the fraction of the table's columns its plan
        reads from ``source`` (1.0 when unknown — conservative toward
        the pre-cost-model behavior)."""
        try:
            total = len(self.spark.table(view).columns) or 1
        except Exception:
            total = 1
        return [
            min(1.0, job.read_cols.get(source, total) / total)
            for job in jobs
            if source in job.fingerprints
        ]

    def cancel(self, job: QueryJob) -> bool:
        """Cancel a running job's Spark jobs (its job group); queued
        jobs are marked cancelled before they start. Returns whether
        anything was cancelled."""
        with job.state_lock:
            # compare-and-set under the job lock: without it, cancel()
            # could observe QUEUED and mark ERROR while _run_job is
            # between its own QUEUED check and the RUNNING write — the
            # write would overwrite the cancellation and the query
            # would run to DONE after the client was told cancelled=true
            if job.status is JobStatus.QUEUED:
                job.status = JobStatus.ERROR
                job.error = "cancelled"
                job.done_event.set()
                return True
        if job.status is JobStatus.RUNNING:
            job.props["cancel_requested"] = True
            group = f"{self._group_ns}-job{job.job_id}"
            sc = self.spark.sparkContext
            # ...AndFutureJobs (SPARK-44194) fails jobs submitted after
            # the cancel, but only when cancelled-group tracking is on
            # (spark.scheduler.numCancelledJobGroupsToTrack; our session
            # sets it, an externally built one may not) — so ALSO re-kill
            # active jobs until the query actually dies: a multi-job
            # statement (AQE stages) can land jobs between cancel calls.
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)

            def reaper() -> None:
                for _ in range(240):  # ≤ 60 s of escort
                    if job.done_event.wait(0.25):
                        return
                    sc.cancelJobGroup(group)

            threading.Thread(target=reaper, daemon=True).start()
            return True
        return False

    def _job_pool(self, job: QueryJob) -> str:
        """FAIR pool for one job: an explicit ``props["pool"]`` wins;
        deadline-carrying jobs run in the high-weight FIFO
        ``deadline_urgent`` pool (weight 8 vs the per-job default 1 —
        session._fair_pools_file) so the pre-scheduler's EDF order also
        commands cluster SHARE under contention, not just queue
        position; everything else gets its own weight-1 pool."""
        explicit = job.props.get("pool")
        if isinstance(explicit, str) and explicit:
            return explicit
        if job.deadline_at is not None:
            return "deadline_urgent"
        return f"job{job.job_id}"

    def _claim(self, job: QueryJob) -> bool:
        """QUEUED → RUNNING under the job lock; False when the job is
        no longer queued (e.g. cancelled while queued)."""
        with job.state_lock:
            if job.status is not JobStatus.QUEUED:
                return False
            job.status = JobStatus.RUNNING
            return True

    def _run_job(self, job: QueryJob, pool_name: str) -> None:
        """Execute one job in the calling thread, inside a FAIR pool."""
        if self._claim(job):
            self._execute(job, pool_name)

    def _enter(self, sess: SparkSession, pool_name: str, group: str, desc: str) -> None:
        """Point the calling pool thread's Spark jobs at ``sess``, a
        FAIR pool and a cancellable job group."""
        try:
            # pool threads have no JVM active session; Python data
            # sources (sources/pysource.py) resolve through it, so a
            # gateway job writing format("jsonl_dir") would fail with
            # DATA_SOURCE_NOT_FOUND without this (measured)
            self.spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                sess._jsparkSession
            )
        except Exception:  # non-classic session API — lookup falls back
            pass
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", pool_name)
        sc.setJobGroup(f"{self._group_ns}-{group}", desc[:100], interruptOnCancel=True)

    def _execute(self, job: QueryJob, pool_name: str) -> None:
        """Run a claimed (RUNNING) job to DONE or ERROR."""
        sess = job.session or self.spark
        # its own job group so a client can cancel mid-flight
        self._enter(sess, pool_name, f"job{job.job_id}", job.sql)
        sc = self.spark.sparkContext
        start = time.monotonic()
        try:
            if job.props.get("prime_only"):
                # window-priming member (server/jdbc_proxy.py): its
                # analysis fed detection and its presence fed cache
                # admission; the one real execution happens in the
                # client's own engine after the gate releases — running
                # it here too would be the double-execution this mode
                # exists to avoid
                job.status = JobStatus.DONE
                return
            # rewritten_sql = MRShare demux over the merged aggregate's
            # driver-local relation (set when the merge is planned,
            # removed if the merge rolls back); absent on the normal
            # path
            rewritten = job.props.get("rewritten_sql")
            try:
                df = sess.sql(rewritten or job.sql)
            except Exception:
                if not rewritten:
                    raise
                # a demux query that fails to PLAN must not fail the
                # member job: fall back to its original SQL on the
                # normal path (correctness over sharing), and count it
                # so a fallback can never silently hide a rewrite bug
                self._bump_stat("mrshare_demux_fallbacks")
                df = sess.sql(job.sql)
            if job.props.get("cancel_requested"):  # cancelled during planning
                raise RuntimeError("cancelled")
            output = job.props.get("output")
            if output:
                writer = df.write.mode(job.props.get("output_mode", "overwrite"))
                part_by = job.props.get("partition_by")
                if part_by:  # demux sink (A12): route rows by column value
                    cols = [part_by] if isinstance(part_by, str) else list(part_by)
                    writer = writer.partitionBy(*cols)
                fmt = job.props.get("output_format", "parquet")
                writer.format(fmt).save(output)
                job.columns = list(df.columns)
                job.n_rows = None  # not counted; sink write is the result
            else:
                rows = df.limit(MAX_INLINE_ROWS + 1).collect()
                truncated = len(rows) > MAX_INLINE_ROWS
                rows = rows[:MAX_INLINE_ROWS]
                job.columns = list(df.columns)
                job.dtypes = [t for _c, t in df.dtypes]
                job.rows = [tuple(r) for r in rows]
                job.n_rows = len(rows)
                if truncated:
                    job.props["truncated"] = True
            job.status = JobStatus.DONE
        except Exception as exc:
            job.status = JobStatus.ERROR
            job.error = f"{type(exc).__name__}: {exc}"
            self._bump_stat("jobs_failed")
        finally:
            job.elapsed = time.monotonic() - start
            job.finished_at = time.monotonic()
            deadline = job.deadline_at
            if deadline is not None:
                self._bump_stat("deadline_jobs")
                if job.finished_at > deadline:
                    self._bump_stat("deadline_misses")
            sc.setLocalProperty("spark.scheduler.pool", None)
            for src in job.fingerprints:
                self.cache.touch(src)
            job.done_event.set()
