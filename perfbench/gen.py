"""Seeded inputs: JSON-lines event logs in the server's watch-dir format.

Every line is `{"seq": <long>, "value": "<event json>"}`, and `seq` grows
by one per line written (a re-delivered line repeats an earlier seq). The
same seed always gives the same lines, files and key samples.
"""
import datetime
import json
import random

PRIORITIES = ("Low", "Medium", "High")
OFFSETS = ("Z", "Z", "Z", "+02:00", "-05:00", "+05:30")
WORDS = ("alpha", "beta", "gamma", "delta", "sensor", "signal", "north", "south",
         "queue", "spike", "drift", "relay", "beacon", "quota", "ember", "orbit")
AUTHORS = ("ana", "björn", "chen", "dana", "eli", "fatima", "goran", "hana")
# 2024-01-01T00:00:00Z .. 2026-01-01T00:00:00Z; probes are created after it.
TS_LO, TS_HI = 1704067200, 1767225600
PROBE_TS0 = 1798761600  # 2027-01-01T00:00:00Z


def rfc3339(secs, offset):
    if offset == "Z":
        t = datetime.datetime.fromtimestamp(secs, datetime.timezone.utc)
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")
    sign = 1 if offset[0] == "+" else -1
    delta = sign * (int(offset[1:3]) * 3600 + int(offset[4:6]) * 60)
    t = datetime.datetime.fromtimestamp(secs + delta, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S") + offset


class Gen:
    """Writes events for a key space, remembering what each key went through."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.seq = 0
        self.meta = {}  # id -> (created_at, priority or None, author)
        self.live = set()
        self.deleted = set()
        self.recreated = set()
        self.ghosts = []  # ids deleted without ever being created
        self.malformed = 0
        self.valid_lines = []

    def new_id(self):
        h = "%032x" % self.rng.getrandbits(128)
        return "%s-%s-%s-%s-%s" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:])

    def _line(self, ev):
        self.seq += 1
        line = json.dumps({"seq": self.seq, "value": json.dumps(ev, ensure_ascii=False)},
                          ensure_ascii=False)
        self.valid_lines.append(line)
        return line

    def _text(self, n):
        r = self.rng
        words = [r.choice(WORDS) for _ in range(n)]
        if r.random() < 0.1:
            words.append('say "hi"\\ok')  # quotes and a backslash to escape
        return " ".join(words)

    def _meta(self, id_):
        if id_ not in self.meta:
            r = self.rng
            # Every created_at parses: the server answers 500 for a row whose
            # timestamp does not (see README, "Left out").
            created = rfc3339(r.randrange(TS_LO, TS_HI), r.choice(OFFSETS))
            priority = None if r.random() < 0.01 else r.choice(PRIORITIES)
            self.meta[id_] = (created, priority, r.choice(AUTHORS))
        return self.meta[id_]

    def upsert(self, id_, created_at=None):
        """A `created` event for an absent id, else an `updated` event."""
        created, priority, author = self._meta(id_)
        if created_at is not None:
            created = created_at
            self.meta[id_] = (created, priority, author)
        action = "updated" if id_ in self.live else "created"
        if id_ in self.deleted:
            self.deleted.discard(id_)
            self.recreated.add(id_)
        self.live.add(id_)
        ev = {"action": action, "id": id_, "title": self._text(3),
              "content": self._text(self.rng.randrange(6, 24)), "author": author,
              "created_at": created,
              "updated_at": rfc3339(self.rng.randrange(TS_LO, TS_HI), "Z")}
        if priority is not None:
            ev["priority"] = priority
        return self._line(ev)

    def delete(self, id_):
        if id_ in self.live:
            self.live.discard(id_)
            self.deleted.add(id_)
        return self._line({"action": "deleted", "id": id_})

    def malformed_line(self):
        self.malformed += 1
        self.seq += 1
        kind = self.rng.randrange(3)
        if kind == 0:  # the line itself is not JSON
            return "#corrupt line %d" % self.seq
        if kind == 1:  # the payload is truncated JSON
            return json.dumps({"seq": self.seq, "value": '{"action": "created", "id": "tr'})
        # the payload lacks an id
        return json.dumps({"seq": self.seq, "value": json.dumps({"action": "created",
                                                                 "title": "no id"})})

    def redelivery(self):
        """An earlier valid line sent again, unchanged."""
        return self.rng.choice(self.valid_lines)

    def uniform_log(self, n, keys):
        """`n` lines over `keys` drawn uniformly: about 6 % deletes (a quarter
        of them for ids never created), 1 % malformed, 1 % re-delivered.
        """
        r = self.rng
        lines = []
        for _ in range(n):
            x = r.random()
            if x < 0.01:
                lines.append(self.malformed_line())
            elif x < 0.02 and self.valid_lines:
                lines.append(self.redelivery())
            elif x < 0.08:
                if r.random() < 0.25:
                    self.ghosts.append(self.new_id())
                    lines.append(self.delete(self.ghosts[-1]))
                else:
                    lines.append(self.delete(r.choice(keys)))
            else:
                lines.append(self.upsert(r.choice(keys)))
        return lines


def chunk(lines, n_files):
    """Split `lines` into `n_files` consecutive, near-equal files."""
    size, extra = divmod(len(lines), n_files)
    out, i = [], 0
    for f in range(n_files):
        j = i + size + (1 if f < extra else 0)
        out.append(lines[i:j])
        i = j
    return out


class Inputs:
    """Everything one workload run lands in the watch dir, plus key samples.

    `backlog` is a list of files (each a list of lines) landed at once; its
    last line is a sentinel create whose visibility marks the end of the
    replay. `feed(i)` is the i-th small file of the open-loop feeder; it
    carries one probe create, newer than every other row, plus updates and
    deletes of churn keys. Hot, cold and churn keys are disjoint, so point
    answers for hot and cold ids never change while the feed runs.
    """

    def __init__(self, seed, n_keys, n_events, n_files):
        g = self.gen = Gen(seed)
        keys = [g.new_id() for _ in range(n_keys)]
        lines = g.uniform_log(n_events - 1, keys)
        self.sentinel = g.new_id()
        lines.append(g.upsert(self.sentinel))
        self.backlog = chunk(lines, n_files)
        self.backlog_events = len(lines)

        r = g.rng
        touched = [k for k in keys if k in g.meta]
        r.shuffle(touched)
        live = [k for k in touched if k in g.live and k not in g.recreated]
        self.churn = live[:64]
        rest = [k for k in touched if k not in set(self.churn)]
        # hot: few enough to be asked again within one generation; a cached
        # 404 is on the hot path too
        hot = [k for k in rest if k in g.live and k not in g.recreated][:1]
        hot += sorted(g.recreated)[:1]
        hot += g.ghosts[:1]
        self.hot = hot
        taken = set(hot) | set(self.churn)
        cold = [k for k in rest if k not in taken]
        # cold: ids not requested before; every fourth one was never created
        self.cold = []
        for i, k in enumerate(cold):
            if i % 3 == 2:
                self.cold.append(g.new_id())
            self.cold.append(k)
        # final check sample: every kind of key, besides the churn keys
        sample = (sorted(g.recreated)[:1] + sorted(g.deleted)[:1] + g.ghosts[:1]
                  + [k for k in rest if k in g.live][:1] + [g.new_id()])
        self.check_ids = sorted(set(sample))
        self._feed_rng = random.Random(seed * 7919 + 1)

    def feed(self, i):
        """Lines of the i-th feed file (deterministic in the seed and i)."""
        g, r = self.gen, self._feed_rng
        probe = g.new_id()
        lines = [g.upsert(probe, created_at=rfc3339(PROBE_TS0 + 60 * i, "Z"))]
        for _ in range(3):
            lines.append(g.upsert(r.choice(self.churn)))
        if r.random() < 0.3:
            lines.append(g.delete(r.choice(self.churn)))
        return probe, lines
