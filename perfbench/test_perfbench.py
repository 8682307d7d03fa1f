"""Tests of the benchmark's own logic: the independent fold, the generator
and the answer check. No server is started.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest

import fold
import gen
import run


def line(seq, **ev):
    return json.dumps({"seq": seq, "value": json.dumps(ev)})


def created(seq, id_, **fields):
    base = {"title": "t", "content": "c", "priority": "High", "author": "a",
            "created_at": "2025-01-01T00:00:00Z", "updated_at": "2025-01-01T00:00:00Z"}
    base.update(fields)
    return line(seq, action="created", id=id_, **base)


class FoldTest(unittest.TestCase):
    def test_delete_of_unseen_key_is_a_no_op(self):
        v = fold.View().apply_lines([created(1, "a"), line(2, action="deleted", id="ghost")])
        self.assertIsNone(v.row("ghost"))
        self.assertEqual(v.live_ids(), ["a"])
        self.assertEqual([r["id"] for r in v.newest_first()], ["a"])

    def test_reapplying_an_event_is_idempotent(self):
        lines = [created(1, "a", title="one"), created(2, "a", title="two")]
        once = fold.View().apply_lines(lines)
        twice = fold.View().apply_lines(lines + [lines[0], lines[1], lines[0]])
        self.assertEqual(once.row("a"), twice.row("a"))
        self.assertEqual(twice.row("a")["title"], "two")

    def test_last_writer_wins_by_log_order_not_updated_at(self):
        v = fold.View().apply_lines([
            created(5, "a", title="newer seq", updated_at="2020-01-01T00:00:00Z"),
            created(3, "a", title="older seq", updated_at="2030-01-01T00:00:00Z")])
        self.assertEqual(v.row("a")["title"], "newer seq")

    def test_tombstone_hides_and_recreate_restores(self):
        v = fold.View().apply_lines([created(1, "a"), line(2, action="deleted", id="a")])
        self.assertIsNone(v.row("a"))
        v.apply_lines([created(3, "a", title="back")])
        self.assertEqual(v.row("a")["title"], "back")
        # a late replay of the create cannot resurrect past the tombstone
        w = fold.View().apply_lines([line(2, action="deleted", id="b"), created(1, "b")])
        self.assertIsNone(w.row("b"))

    def test_malformed_lines_are_skipped_and_counted(self):
        v = fold.View().apply_lines([
            "#not json",
            json.dumps({"seq": 1, "value": '{"action": "created", "id": "tr'}),
            json.dumps({"seq": 2, "value": json.dumps({"action": "created"})}),
            json.dumps({"seq": 3, "value": json.dumps({"id": "x"})}),
            created(4, "ok")])
        self.assertEqual(v.malformed, 4)
        self.assertEqual(v.live_ids(), ["ok"])

    def test_rows_are_seven_strings_with_utc_timestamps(self):
        v = fold.View().apply_lines([line(1, action="created", id="a",
                                          created_at="2025-03-01T12:00:00+02:00")])
        self.assertEqual(v.row("a"), {"id": "a", "title": "", "content": "", "priority": "",
                                      "author": "", "created_at": "2025-03-01T10:00:00Z",
                                      "updated_at": ""})

    def test_newest_first_by_parsed_time_then_id_unparsable_oldest(self):
        v = fold.View().apply_lines([
            created(1, "b", created_at="2025-01-01T10:00:00Z"),
            created(2, "a", created_at="2025-01-01T10:00:00Z"),
            # an hour earlier, though it sorts higher as text
            created(3, "c", created_at="2025-01-01T12:00:00+03:00"),
            created(4, "d", created_at="not-a-date"),
            created(5, "e", created_at="1970-01-01T00:00:01Z")])
        self.assertEqual([r["id"] for r in v.newest_first()], ["b", "a", "c", "e", "d"])
        self.assertEqual(len(v.newest_first(limit=2)), 2)

    def test_priority_page_sorted_by_id_and_capped(self):
        v = fold.View().apply_lines([created(i, "k%03d" % (50 - i), priority="Low")
                                     for i in range(1, 31)] + [created(99, "x", priority="High")])
        page = v.priority_page("Low", limit=10)
        self.assertEqual([r["id"] for r in page], ["k%03d" % i for i in range(20, 30)])
        self.assertEqual([r["id"] for r in v.priority_page("High")], ["x"])


class GenTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = gen.Inputs(7, 300, 1200, 4), gen.Inputs(7, 300, 1200, 4)
        self.assertEqual(a.backlog, b.backlog)
        self.assertEqual([a.feed(i) for i in range(3)], [b.feed(i) for i in range(3)])
        self.assertNotEqual(a.backlog, gen.Inputs(8, 300, 1200, 4).backlog)

    def test_log_has_every_kind_and_counts_its_malformed_lines(self):
        inp = gen.Inputs(3, 500, 3000, 4)
        v = fold.View()
        for f in inp.backlog:
            v.apply_lines(f)
        self.assertEqual(v.malformed, inp.gen.malformed)
        self.assertGreater(inp.gen.malformed, 0)
        self.assertTrue(inp.gen.recreated and inp.gen.deleted and inp.gen.ghosts)
        self.assertIsNotNone(v.row(inp.sentinel))
        lines = [l for f in inp.backlog for l in f]
        self.assertLess(len(set(lines)), len(lines))  # re-delivered lines

    def test_hot_and_cold_keys_are_untouched_by_the_feed(self):
        inp = gen.Inputs(5, 500, 3000, 4)
        fed = {json.loads(json.loads(l)["value"])["id"] for i in range(20) for l in inp.feed(i)[1]}
        self.assertFalse(fed & (set(inp.hot) | set(inp.cold)))


class CheckTest(unittest.TestCase):
    """The answer check flags a single wrong row."""

    def setUp(self):
        self.run = run.Run("replay_cold", 1, 1, False)
        inp = gen.Inputs(11, 400, 2000, 4)
        self.run.base = fold.View()
        for f in inp.backlog:
            self.run.base.apply_lines(f)
        self.run.feed_files, self.run.views = [], {}
        self.inp = inp

    def served(self, rows):
        return json.dumps(rows).encode()

    def test_correct_answers_pass(self):
        v = self.run.base
        self.run.verify("list", "/signals", 200, self.served(v.newest_first()), 0)
        self.run.verify("priority", "/signals?priority=High", 200,
                        self.served(v.priority_page("High")), 0)
        for id_ in self.inp.hot:
            row = v.row(id_)
            status, body = (404, b'{"error": "not found"}') if row is None else (200, self.served(row))
            self.run.verify("hot", "/signals/" + id_, status, body, 0)
        self.assertEqual(self.run.wrong, [])
        self.assertEqual(self.run.attempted, 2 + len(self.inp.hot))

    def test_one_wrong_row_in_an_answer_fails(self):
        rows = self.run.base.newest_first()
        rows[17] = dict(rows[17], title=rows[17]["title"] + "!")
        self.run.verify("list", "/signals", 200, self.served(rows), 0)
        self.assertEqual(len(self.run.wrong), 1)

    def test_one_wrong_expected_row_fails(self):
        body = self.served(self.run.base.priority_page("Low"))
        victim = self.run.base.priority_page("Low")[3]["id"]
        seq, ev = self.run.base.latest[victim]
        self.run.base.latest[victim] = (seq, dict(ev, author="someone else"))
        self.run.verify("priority", "/signals?priority=Low", 200, body, 0)
        self.assertEqual(len(self.run.wrong), 1)

    def test_a_deleted_key_answering_200_fails_and_5xx_counts_as_failed(self):
        gone = sorted(self.inp.gen.deleted)[0]
        self.run.verify("cold", "/signals/" + gone, 200, b'{"id": "x"}', 0)
        self.run.verify("cold", "/signals/" + gone, 500, b"{}", 0, n=3)
        self.assertEqual(len(self.run.wrong), 1)
        self.assertEqual((self.run.attempted, self.run.failed), (4, 3))


if __name__ == "__main__":
    unittest.main()
