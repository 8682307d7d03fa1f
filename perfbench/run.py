#!/usr/bin/env python3
"""perfbench: the shipped live server, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (skipped while unchanged), starts
`graft.HttpServe --live <watch> <state> <chk> <port>` as its own process
(or, with `--trace 1`, the harness hosting the same wiring with counters),
drives it only through its watch directory and HTTP routes from this one
process, checks every answer against an independent fold of the generated
log, and prints one JSON line: `correct`, `attempted`, `failed`, `metrics`.
A fuller record of the run goes to `perfbench/results/`. See README.md.

Every run has the same phases:
  setup    launch the server on an empty store; time to its first correct
           answer (`GET /signals` == []).
  replay   rename the workload's backlog into the watch dir at once; time
           until its last event is served.
  window   two closed-loop readers for `--seconds` after a warm-up. On
           live_ingest the feeder lands one probe file per second meanwhile
           and the readers issue point lookups and health probes only.
  settled  live_ingest: one reader of listings once the feed has drained.
  tail     the other workloads: a few probe files after the window, each
           landed once the previous one answered, readers stopped.
  check    the full listing, every priority's first page and a key sample,
           against the fold of everything landed.
Listings are never read while a micro-batch may be committing: a read can
then see some buckets of the batch and not others (README, "Left out").
"""
import argparse
import copy
import json
import math
import os
import shutil
import socket
import statistics
import sys
import threading
import time

import build
import fold
import gen
import load

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = {
    # 30k events over 6 micro-batches of 16 files, then settled reads on the
    # state the replay leaves, with every ingest layer idle
    "replay_cold": dict(keys=10000, events=30000, files=96, feed=False),
    # one micro-batch of base state, then a probe file per second beside reads
    "live_ingest": dict(keys=5000, events=15000, files=16, feed=True),
}
READERS = 2
WARM_S = 2
SETTLE_S = 0.5  # a batch's last bucket commits within ms of its first
# live_ingest's settled listings: the server works off the feed (its last
# batch's tail, GC) for 1-2 s after the last probe answers, so the reader
# runs that long untimed before the timed part. One reader: two queue on
# each other at ~400 listings/s and widen the p50 between runs.
SETTLED_WARM_S = 2
SETTLED_S = 4
SETTLED_READERS = 1
TAIL_PROBES = 3
PROBE_ROUNDS = 3  # traced runs: listings on a fresh generation
READ_PRIORITY = "High"
MIX = ["hot", "cold", "hot", "list", "hot", "health", "hot", "priority"]
MIX_FEEDING = ["hot", "hot", "cold", "hot", "hot", "health", "hot", "hot"]
MIX_SETTLED = ["list", "priority"]
ROUTES = ("hot", "cold", "list", "priority", "health")
TIMEOUT_S = 60


class Run:
    def __init__(self, workload, seed, seconds, traced):
        self.w = WORKLOADS[workload]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.attempted = self.failed = 0
        self.wrong = []
        self.samples = []  # (route, seconds) of timed reads
        self.record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": traced}
        self.marks = {}
        self.proc = None
        self.work = os.path.join(HERE, ".work", "%s-%d-%d" % (workload, seed, os.getpid()))

    # ---- inputs and expectations ------------------------------------------
    def prepare(self):
        w = self.w
        inp = self.inp = gen.Inputs(self.seed, w["keys"], w["events"], w["files"])
        n_feed = WARM_S + self.seconds if w["feed"] else TAIL_PROBES
        n_feed += PROBE_ROUNDS if self.traced else 0
        self.feed_files = [inp.feed(i) for i in range(n_feed)]
        self.base = fold.View()
        for f in inp.backlog:
            self.base.apply_lines(f)
        assert self.base.malformed == inp.gen.malformed
        self.views = {}

        for d in ("watch", "state", "chk", "stage", "feed"):
            os.makedirs(os.path.join(self.work, d))
        old = time.time() - 3600  # explicit mtimes fix the source's file order
        self.backlog_names = ["backlog-%05d.json" % i for i in range(len(inp.backlog))]
        for i, lines in enumerate(inp.backlog):
            self._write(os.path.join(self.work, "stage", self.backlog_names[i]), lines,
                        old + i * 0.01)
        self.feed_names = ["feed-%05d.json" % i for i in range(n_feed)]
        for i, (_, lines) in enumerate(self.feed_files):
            self._write(os.path.join(self.work, "feed", self.feed_names[i]), lines,
                        old + 1800 + i * 0.01)

    @staticmethod
    def _write(path, lines, mtime):
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (mtime, mtime))

    def view_at(self, k):
        """The expected view once the backlog and the first k feed files landed."""
        if k not in self.views:
            v = copy.deepcopy(self.base)
            for _, lines in self.feed_files[:k]:
                v.apply_lines(lines)
            self.views[k] = (v, fold.canonical(v.newest_first()),
                             {p: fold.canonical(v.priority_page(p)) for p in gen.PRIORITIES})
        return self.views[k]

    # ---- checks ------------------------------------------------------------
    def verify(self, route, path, status, body, landed, n=1):
        """Count `n` identical answers: failed (none, or 5xx) or checked."""
        self.attempted += n
        if status == 0 or status >= 500:
            self.failed += n
            return
        view, listing, pages = self.view_at(landed)
        try:
            if route in ("hot", "cold", "point"):
                row = view.row(path.rsplit("/", 1)[1])
                ok = (status == 404) if row is None else (status == 200 and json.loads(body) == row)
            elif route == "list":
                ok = status == 200 and fold.canonical(json.loads(body)) == listing
            elif route == "priority":
                ok = status == 200 and fold.canonical(json.loads(body)) == pages[path.rsplit("=", 1)[1]]
            elif route == "health":
                ok = status == 200 and json.loads(body) == {"status": "ok"}
            else:
                raise ValueError(route)
        except ValueError:
            ok = False
        if not ok:
            self.wrong.append((route, path, status, body.decode("utf-8", "replace")))

    def verify_all(self, responses, landed):
        for (route, path, status, body), n in responses.items():
            self.verify(route, path, status, body, landed, n)

    def check_probes(self, indexes):
        """Each of these probes first answered 200 with exactly its fields."""
        for i in indexes:
            _, status, body = self.feed.visible[i]
            self.verify("point", "/signals/" + self.feed_files[i][0], status, body,
                        self.feed.landed)

    # ---- server ------------------------------------------------------------
    def trace(self, what):
        if not self.traced:
            return None
        status, body = self.trace_client.get("/_trace/" + what)
        if status != 200:
            raise RuntimeError("trace endpoint answered %d" % status)
        return json.loads(body)

    def mark(self, phase):
        self.marks[phase] = self.trace("phase?name=" + phase)

    def start_server(self):
        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        self.port = s.getsockname()[1]
        s.close()
        w = lambda d: os.path.join(self.work, d)
        t0 = time.perf_counter()
        self.proc = build.launch(self.built, self.work, w("watch"), w("state"), w("chk"),
                                 self.port, self.traced)
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError("server exited with %d during start" % self.proc.returncode)
            if time.perf_counter() - t0 > TIMEOUT_S:
                raise RuntimeError("server gave no correct answer within %d s" % TIMEOUT_S)
            c = load.Client(self.port)
            status, body = c.get("/signals")
            c.close()
            if status == 200 and json.loads(body) == []:
                break
            time.sleep(0.02)
        self.setup_s = time.perf_counter() - t0
        self.attempted += 1
        self.client = load.Client(self.port)
        self.trace_client = load.Client(self.port)
        self.feed = load.Feed(self.port, os.path.join(self.work, "feed"),
                              os.path.join(self.work, "watch"), self.feed_names,
                              [p for p, _ in self.feed_files])

    def wait_visible(self, id_):
        """Poll `id_` every 50 ms until it answers 200; return that wall time."""
        t0 = time.time()
        while time.time() - t0 < TIMEOUT_S:
            status, body = self.client.get("/signals/" + id_)
            if status == 200:
                self.verify("point", "/signals/" + id_, status, body, 0)
                return time.time()
            if status != 404:
                raise RuntimeError("GET /signals/%s answered %d" % (id_, status))
            if self.proc.poll() is not None:
                raise RuntimeError("server exited with %d" % self.proc.returncode)
            time.sleep(0.05)
        raise RuntimeError("%s not visible within %d s" % (id_, TIMEOUT_S))

    def readers(self, mix, start, stop, n=READERS):
        """`n` closed-loop readers from now until `stop`; reads from `start` are timed."""
        rounds = []
        for r in range(n):
            ops, h = [], r
            for route in mix:
                if route == "hot":
                    path, h = "/signals/" + self.inp.hot[h % len(self.inp.hot)], h + 1
                else:
                    path = {"list": "/signals", "priority": "/signals?priority=" + READ_PRIORITY,
                            "health": "/health", "cold": None}[route]
                ops.append((route, path))
            rounds.append(ops)
        return load.run_readers(self.port, rounds, self.cold_ids, start, stop)

    def land_and_poll(self, count):
        """Land `count` probe files one per second while a thread polls them."""
        done = threading.Event()
        poller = threading.Thread(target=self.feed.poll_until, args=(done.is_set,))
        poller.start()
        try:
            self.feed.land(count)
        finally:
            done.set()
            poller.join()

    # ---- phases ------------------------------------------------------------
    def replay(self):
        self.mark("replay")
        load.sleep_until(load.Feed.next_slot(time.time()))
        t0 = time.time()
        for name in self.backlog_names:
            os.rename(os.path.join(self.work, "stage", name), os.path.join(self.work, "watch", name))
        self.replay_s = self.wait_visible(self.inp.sentinel) - t0
        time.sleep(SETTLE_S)
        self.mark("warmup")

    def window(self):
        # the last cold ids are kept for a traced run's one-at-a-time misses
        self.cold_ids = iter(self.inp.cold[:-5])
        # fill the serving caches once; the readers then run WARM_S untimed
        for route, path in ([("list", "/signals"), ("priority", "/signals?priority=" + READ_PRIORITY),
                             ("health", "/health")] + [("hot", "/signals/" + i) for i in self.inp.hot]):
            self.verify(route, path, *self.client.get(path), 0)
        self.mark("window")
        start = time.perf_counter() + WARM_S
        stop = start + self.seconds
        if self.w["feed"]:
            out = {}
            t = threading.Thread(target=lambda: out.update(r=self.readers(MIX_FEEDING, start, stop)))
            t.start()
            self.land_and_poll(WARM_S + self.seconds)
            t.join()
            samples, responses = out["r"]
            self.fresh = self.feed.freshness_ms(range(WARM_S, WARM_S + self.seconds))
            self.verify_all(responses, 0)  # point lookups of keys the feed never touches
            self.mark("settled")
            time.sleep(SETTLE_S)
            start = time.perf_counter() + SETTLED_WARM_S
            settled, responses = self.readers(MIX_SETTLED, start, start + SETTLED_S,
                                              SETTLED_READERS)
            self.verify_all(responses, self.feed.landed)
            self.samples = samples + settled
            self.read_rate = len(samples) / self.seconds
        else:
            self.samples, responses = self.readers(MIX, start, stop)
            self.verify_all(responses, 0)
            self.read_rate = len(self.samples) / self.seconds
            self.mark("tail")
            self.feed.land_each_after_visible(TAIL_PROBES)
            self.fresh = self.feed.freshness_ms(range(TAIL_PROBES))
        self.check_probes(range(self.feed.landed))

    def check(self):
        self.mark("check")
        time.sleep(SETTLE_S)
        k = self.feed.landed
        paths = ([("list", "/signals")]
                 + [("priority", "/signals?priority=" + p) for p in gen.PRIORITIES]
                 + [("point", "/signals/" + i) for i in self.inp.churn[:3] + self.inp.check_ids])
        for route, path in paths:
            self.verify(route, path, *self.client.get(path), k)

    def probe_serving(self):
        """Traced runs: requests one at a time, each with the jobs it ran."""
        self.mark("probe")
        out = {}

        def one(key, route, path):
            j0 = self.trace("counters")["serving_jobs"]
            t0 = time.perf_counter()
            status, body = self.client.get(path)
            ms = (time.perf_counter() - t0) * 1000
            jobs = self.trace("counters")["serving_jobs"] - j0
            self.verify(route, path, status, body, self.feed.landed)
            out.setdefault(key, []).append((ms, jobs))

        for id_ in self.inp.cold[-5:]:
            one("point_miss", "cold", "/signals/" + id_)
            one("health", "health", "/health")
        for id_ in self.inp.hot:
            one("point_hot", "hot", "/signals/" + id_)
            one("list", "list", "/signals")
        for _ in range(PROBE_ROUNDS):
            self.feed.land_each_after_visible(1)
            time.sleep(SETTLE_S)
            one("cold_list", "list", "/signals")
            one("cold_priority", "priority", "/signals?priority=" + READ_PRIORITY)
        self.check_probes(range(self.feed.landed - PROBE_ROUNDS, self.feed.landed))
        return out

    # ---- results -----------------------------------------------------------
    def end_to_end(self):
        by = {r: sorted(s * 1000 for route, s in self.samples if route == r) for r in ROUTES}
        for r in ROUTES:
            if not by[r]:
                raise RuntimeError("no timed %s read" % r)
        fresh = sorted(self.fresh)
        if not fresh:
            raise RuntimeError("no probe became visible")
        m = {
            "setup_s": (self.setup_s, "s"),
            "replay_events_per_s": (self.inp.backlog_events / self.replay_s, "events/s"),
            "freshness_p50_ms": (statistics.median(fresh), "ms"),
            "point_hot_p50_ms": (statistics.median(by["hot"]), "ms"),
            "point_cold_p50_ms": (statistics.median(by["cold"]), "ms"),
            "list_p50_ms": (statistics.median(by["list"]), "ms"),
            "priority_p50_ms": (statistics.median(by["priority"]), "ms"),
            "health_p50_ms": (statistics.median(by["health"]), "ms"),
            "reads_per_s": (self.read_rate, "requests/s"),
        }
        self.record["routes"] = {r: {"n": len(v), "p50": statistics.median(v), "p90": pct(v, 0.9),
                                     "p99": pct(v, 0.99), "ms": [round(x, 2) for x in v]}
                                 for r, v in by.items()}
        self.record.update(freshness_ms=fresh, freshness_p90_ms=pct(fresh, 0.9),
                           feeder_late_ms_max=max(self.feed.late) * 1000,
                           replay_s=self.replay_s, backlog_events=self.inp.backlog_events,
                           load1=os.getloadavg()[0])
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self, probes):
        """Layer metrics from the harness's records. Timings come from the
        batches of the workload's main phase; per-batch counts from the
        replay, whose batches are the same files in every run."""
        d = self.record["trace_dump"] = self.trace("dump")
        main = "window" if self.w["feed"] else "replay"
        by_phase = lambda ph: [b for b in d["batches"] if b["phase"] == ph]
        bs, replayed = by_phase(main), by_phase("replay")
        if not bs or not replayed:
            raise RuntimeError("no micro-batch ran in phase %s" % main)
        med = lambda f, batches=bs: statistics.median(f(b) for b in batches)
        diag = lambda k: med(lambda b: b["diag"].get(k, 0.0))
        count = lambda k: med(lambda b: b[k], replayed)
        malformed = sum(b["raw"] - b["kept"] for b in d["batches"])
        if malformed != self.inp.gen.malformed:
            self.wrong.append(("malformed", "", malformed, "generator: %d" % self.inp.gen.malformed))
        per_call = lambda acc, key: acc[key] / acc["n"] if acc["n"] else 0.0
        tok = d["token"].get("window", {"n": 0, "ms": 0.0, "fs": 0})
        views = [v for ph, v in d["view"].items() if ph not in ("setup", "replay")]
        view = {k: sum(v[k] for v in views) for k in ("n", "ms", "fs")}
        mk = self.marks
        after_main = "settled" if self.w["feed"] else "warmup"
        state_files, state_bytes = state_size(os.path.join(self.work, "state"))
        p = lambda k, i: statistics.median(x[i] for x in probes[k])
        m = {
            "sources.discover_ms": (med(lambda b: b["discover_ms"]), "ms"),
            "sources.events_per_batch": (med(lambda b: b["raw"]), "events"),
            "streaming.batches": (len(bs), "count"),
            "streaming.trigger_ms": (med(lambda b: b["trigger_ms"]), "ms"),
            "streaming.process_batch_ms": (med(lambda b: b["process_ms"]), "ms"),
            "streaming.overhead_ms": (med(lambda b: b["trigger_ms"] - b["foreach_ms"]), "ms"),
            "projection.fold_ms": (med(lambda b: b["fold_ms"]), "ms"),
            "projection.malformed_dropped": (malformed, "count"),
            "store.affected_probe_ms": (diag("merge.affected-probe"), "ms"),
            "store.read_old_ms": (diag("merge.read-old"), "ms"),
            "store.staging_write_ms": (diag("write.staging-job"), "ms"),
            "store.commit_ms": (diag("write.commit-loop"), "ms"),
            "store.jobs_per_batch": (count("jobs"), "count"),
            "store.tasks_per_batch": (count("tasks"), "count"),
            "store.fs_calls_per_batch": (count("fs_calls"), "count"),
            "store.token_ms": (per_call(tok, "ms"), "ms"),
            "store.token_fs_calls": (per_call(tok, "fs"), "count"),
            "store.read_ms": (per_call(view, "ms"), "ms"),
            "store.read_fs_calls": (per_call(view, "fs"), "count"),
            "store.state_bytes": (state_bytes, "bytes"),
            "store.state_files": (state_files, "count"),
            "serving.rebuilds": (d["view"].get("window", {"n": 0})["n"], "count"),
            "serving.cold_list_ms": (p("cold_list", 0), "ms"),
            "serving.cold_priority_ms": (p("cold_priority", 0), "ms"),
            "serving.point_miss_ms": (p("point_miss", 0), "ms"),
            "serving.health_probe_ms": (p("health", 0), "ms"),
            "serving.jobs_per_request.point_miss": (p("point_miss", 1), "count"),
            "serving.jobs_per_request.point_hot": (p("point_hot", 1), "count"),
            "serving.jobs_per_request.list": (p("list", 1), "count"),
            "serving.jobs_per_request.cold_list": (p("cold_list", 1), "count"),
            "serving.jobs_per_request.health": (p("health", 1), "count"),
            "jvm.cpu_us_per_event": ((mk["warmup"]["cpu_ns"] - mk["replay"]["cpu_ns"]) / 1000
                                     / self.inp.backlog_events, "us"),
            "jvm.gc_ms": (mk[after_main]["gc_ms"] - mk[main]["gc_ms"], "ms"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def execute(self):
        self.built = build.ensure_built()
        walls = self.record["phase_s"] = {}
        for phase in (self.prepare, self.start_server, self.replay, self.window, self.check):
            t0 = time.perf_counter()
            phase()
            walls[phase.__name__] = time.perf_counter() - t0
        e2e = self.end_to_end()
        if not self.traced:
            return e2e
        self.record["end_to_end"] = e2e
        return self.per_layer(self.probe_serving())

    def close(self):
        if self.proc is not None:
            build.stop(self.proc)
        shutil.rmtree(self.work, ignore_errors=True)


def pct(sorted_values, q):
    """Nearest-rank percentile of an ascending list."""
    if not sorted_values:
        return None
    rank = max(1, math.ceil(q * len(sorted_values)))
    return sorted_values[min(rank, len(sorted_values)) - 1]


def state_size(state_dir):
    """(files, bytes) of the data files in each bucket's newest generation."""
    files = size = 0
    for b in sorted(os.listdir(state_dir)):
        if not b.startswith("bucket="):
            continue
        gens = [g for g in os.listdir(os.path.join(state_dir, b)) if g.startswith("gen=")]
        if gens:
            d = os.path.join(state_dir, b, max(gens, key=lambda g: int(g[4:])))
            for f in os.listdir(d):
                if f.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
    return files, size


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        sys.exit("perfbench: no program sources next to perfbench/ (build.sbt, src/main)")
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace))
    try:
        metrics = run.execute()
    finally:
        run.close()
    for w in run.wrong[:5]:
        print("WRONG %r" % ((w[0], w[1], w[2], w[3][:200]),), file=sys.stderr)
    out = {"correct": not run.wrong, "attempted": run.attempted, "failed": run.failed,
           "metrics": metrics}
    run.record.update(out, wrong=run.wrong[:20])
    res = os.path.join(HERE, "results")
    os.makedirs(res, exist_ok=True)
    name = "%s-seed%d-trace%d-%d.json" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
    with open(os.path.join(res, name), "w") as f:
        json.dump(run.record, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
