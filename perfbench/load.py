"""Load generation against a running server: one keep-alive client per
thread, a closed loop of readers, an open-loop feeder and a probe poller.

No thread parses or checks a body while a window is timed: answers are
counted by distinct body and checked once the window is over.
"""
import http.client
import os
import socket
import threading
import time


class Client:
    """One keep-alive HTTP connection; reconnects after a dropped one."""

    def __init__(self, port, timeout=60):
        self.port, self.timeout, self.conn = port, timeout, None

    def get(self, path):
        """(status, body); status 0 with the error text when the request failed."""
        for attempt in (0, 1):
            try:
                if self.conn is None:
                    self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                           timeout=self.timeout)
                    self.conn.connect()
                    self.conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                self.conn.request("GET", path)
                r = self.conn.getresponse()
                return r.status, r.read()
            except (http.client.HTTPException, OSError) as e:
                self.close()
                if attempt:
                    return 0, str(e).encode()

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def sleep_until(t):
    """Sleep until wall-clock time `t`."""
    while t > time.time():
        time.sleep(max(0.0, min(t - time.time(), 0.05)))


class Feed:
    """Lands pre-written files from `stage` into `watch`, one per wall-clock
    second at phase 0.5 s, and polls each file's probe id until it answers
    200. The trigger fires on whole seconds, so every file waits the same
    half second for it; freshness is rename to first 200 with the probe.
    """

    PHASE = 0.5
    POLL_S = 0.02
    GIVE_UP_S = 60

    def __init__(self, port, stage, watch, names, probes):
        self.stage, self.watch, self.names, self.probes = stage, watch, names, probes
        self.client = Client(port)
        self.landed = 0  # files renamed so far
        self.land_at = {}  # probe index -> wall time of its rename
        self.late = []  # seconds each rename ran behind its slot
        self.visible = {}  # probe index -> (wall time, status, body)

    @staticmethod
    def next_slot(after):
        s = int(after) + Feed.PHASE
        return s if s > after else s + 1

    def land(self, count):
        """Land the next `count` files, one per slot."""
        slot = self.next_slot(time.time())
        for _ in range(count):
            sleep_until(slot)
            i = self.landed
            t = time.time()
            os.rename(os.path.join(self.stage, self.names[i]), os.path.join(self.watch, self.names[i]))
            self.land_at[i] = t
            self.late.append(t - slot)
            self.landed = i + 1
            slot += 1

    def poll_until(self, done):
        """Poll outstanding probes until `done()` and none is outstanding."""
        while True:
            pending = [i for i in self.land_at if i not in self.visible]
            if not pending and done():
                return
            for i in pending:
                status, body = self.client.get("/signals/" + self.probes[i])
                if status == 404 and time.time() - self.land_at[i] > self.GIVE_UP_S:
                    status, body = 0, b"not visible in time"
                if status != 404:  # an answer, or a failure the check counts
                    self.visible[i] = (time.time(), status, body)
            time.sleep(self.POLL_S)

    def land_each_after_visible(self, count):
        """Land `count` files, each at the first slot after the previous
        probe answered: every file is then a micro-batch of its own, started
        by the trigger half a second after it lands."""
        for _ in range(count):
            self.land(1)
            self.poll_until(lambda: True)

    def freshness_ms(self, indexes):
        return [(self.visible[i][0] - self.land_at[i]) * 1000 for i in indexes
                if i in self.visible and self.visible[i][1] == 200]


def run_readers(port, rounds, cold_ids, start_at, stop_at):
    """One closed-loop reader per entry of `rounds`, until `stop_at`.

    Each reader cycles its list of (route, path) ops; the route "cold" takes
    the next unused id from the iterator `cold_ids`. Returns the latency
    samples (route, seconds) of requests started at or after `start_at`
    (perf_counter), and every answer as {(route, path, status, body): n}.
    """
    lock = threading.Lock()
    samples, responses = [], {}

    def reader(ops):
        c = Client(port)
        mine, seen, k = [], {}, 0
        while True:
            t0 = time.perf_counter()
            if t0 >= stop_at:
                break
            route, path = ops[k % len(ops)]
            k += 1
            if route == "cold":
                with lock:
                    path = "/signals/" + next(cold_ids)
            status, body = c.get(path)
            t1 = time.perf_counter()
            if t0 >= start_at:
                mine.append((route, t1 - t0))
            key = (route, path, status, body)
            seen[key] = seen.get(key, 0) + 1
        c.close()
        with lock:
            samples.extend(mine)
            for key, n in seen.items():
                responses[key] = responses.get(key, 0) + n

    threads = [threading.Thread(target=reader, args=(ops,)) for ops in rounds]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, responses
