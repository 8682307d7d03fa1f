"""Independent expected view: a plain fold over the generated event log.

It shares no code with the program under test and uses no Spark. It
implements the read model the server promises:

- one line of the log is `{"seq": <long>, "value": "<event json>"}`;
- a line is skipped (malformed) when it is not a JSON object, when its
  `value` is not a JSON object, or when the event lacks `action` or `id`;
- per id, the event with the highest `seq` wins (log order, not
  `updated_at`); re-delivering the same line changes nothing;
- a `deleted` event is a tombstone: the id is absent from the view, and a
  delete of an id never created is a no-op;
- rows are served as seven strings; timestamps are re-rendered as UTC
  RFC 3339 (`2024-03-05T10:00:00Z`), an unparsable one as "";
- the newest-first listing orders by parsed `created_at` descending, an
  unparsable value counting as the oldest (0), then by id descending,
  and keeps 50 rows;
- a priority page holds the ids of that priority in ascending order, at
  most 1000 rows.
"""
import datetime
import json
import re

LIST_LIMIT = 50
PAGE_LIMIT = 1000
FIELDS = ("id", "title", "content", "priority", "author", "created_at", "updated_at")

_RFC3339 = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(Z|[+-]\d{2}:\d{2})$")


def parse_ts(s):
    """Seconds since the epoch of an RFC 3339 string, or None."""
    if not isinstance(s, str):
        return None
    m = _RFC3339.match(s)
    if not m:
        return None
    y, mo, d, h, mi, se = (int(g) for g in m.groups()[:6])
    off = m.group(7)
    try:
        t = datetime.datetime(y, mo, d, h, mi, se, tzinfo=datetime.timezone.utc)
    except ValueError:
        return None
    secs = int(t.timestamp())
    if off != "Z":
        sign = 1 if off[0] == "+" else -1
        secs -= sign * (int(off[1:3]) * 3600 + int(off[4:6]) * 60)
    return secs


def render_ts(s):
    secs = parse_ts(s)
    if secs is None:
        return ""
    return datetime.datetime.fromtimestamp(secs, datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def parse_line(line):
    """(seq, event dict) for a usable line, None for a malformed one."""
    try:
        rec = json.loads(line)
        ev = json.loads(rec["value"])
    except (ValueError, TypeError, KeyError):
        return None
    if not isinstance(ev, dict) or not isinstance(rec.get("seq"), int):
        return None
    if not isinstance(ev.get("action"), str) or not isinstance(ev.get("id"), str):
        return None
    return rec["seq"], ev


class View:
    """Last-writer-wins state over an event log, tombstones included."""

    def __init__(self):
        self.latest = {}  # id -> (seq, event)
        self.malformed = 0

    def apply_lines(self, lines):
        for line in lines:
            parsed = parse_line(line)
            if parsed is None:
                self.malformed += 1
                continue
            seq, ev = parsed
            cur = self.latest.get(ev["id"])
            if cur is None or seq > cur[0]:
                self.latest[ev["id"]] = (seq, ev)
        return self

    def row(self, id_):
        """The served row for `id_`, or None when absent or deleted."""
        cur = self.latest.get(id_)
        if cur is None or cur[1]["action"] == "deleted":
            return None
        ev = cur[1]
        out = {f: (ev.get(f) if isinstance(ev.get(f), str) else "") for f in FIELDS}
        out["created_at"] = render_ts(ev.get("created_at"))
        out["updated_at"] = render_ts(ev.get("updated_at"))
        return out

    def live_ids(self):
        return [i for i, (_, ev) in self.latest.items() if ev["action"] != "deleted"]

    def newest_first(self, limit=LIST_LIMIT):
        def key(i):
            secs = parse_ts(self.latest[i][1].get("created_at"))
            return (secs if secs is not None else 0, i)
        return [self.row(i) for i in sorted(self.live_ids(), key=key, reverse=True)[:limit]]

    def priority_page(self, priority, limit=PAGE_LIMIT):
        ids = sorted(i for i in self.live_ids()
                     if self.latest[i][1].get("priority") == priority)
        return [self.row(i) for i in ids[:limit]]


def canonical(obj):
    """One string per JSON value, independent of key order and spacing."""
    return json.dumps(obj, sort_keys=True, ensure_ascii=False, separators=(",", ":"))
