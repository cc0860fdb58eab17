"""Tests of the tech-log generator: determinism and hand-written rows.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import random
import tempfile
import unittest

import techlog_gen as g


def tree_files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class Determinism(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra = g.write_backlog(a, 5, servers=("s",), procs=2, hours=2, records_per_file=50)
            rb = g.write_backlog(b, 5, servers=("s",), procs=2, hours=2, records_per_file=50)
            files = tree_files(a)
            self.assertEqual(files, tree_files(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(ra[1:], rb[1:])

    def test_other_seed_gives_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            g.write_backlog(a, 5, servers=("s",), procs=1, hours=1, records_per_file=50)
            g.write_backlog(b, 6, servers=("s",), procs=1, hours=1, records_per_file=50)
            f = tree_files(a)[0]
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False))

    def test_line_counts_match_files(self):
        with tempfile.TemporaryDirectory() as a:
            dirs, lines, _, _, size = g.write_backlog(a, 1, servers=("s",), procs=1, hours=2,
                                                      records_per_file=30)
            data = b"".join(open(os.path.join(a, f), "rb").read() for f in tree_files(a))
            self.assertEqual(lines, {"Map1": data.count(b"\n")})
            self.assertEqual(size, len(data))


class HandWrittenRows(unittest.TestCase):
    """Rows worked out by hand from FIXTURES.md, not from the model."""

    def test_fixtures_representative_record(self):
        f = {"Component": "DBMSSQL", "p:processName": "server1", "t:clientID": "17",
             "t:connectID": "55", "SessionID": "901", "Usr": "ivanov",
             "DataBase": "accounting", "Rows": "10", "RowsAffected": "0"}
        row = g.expected_row("25052607.log", "00:03.310025-1327862", f,
                             "SELECT T1.F1\nFROM dbo.tbl T1 WHERE T1.D >",
                             "Документ.Продажа.Форма\n.Модуль : строка 42")
        self.assertEqual(row, (
            "2025-05-26", "2025-05-26 07:00:03.310025", "DBMSSQL", 1327862, "ivanov",
            "accounting", 901, 17, 55, "SELECT T1.F1\nFROM dbo.tbl T1 WHERE T1.D >", 10, 0,
            "Документ.Продажа.Форма\n.Модуль : строка 42", "server1"))

    def test_generated_context_record(self):
        rng = random.Random(7)
        maker = g.RecordMaker(rng, "srv1-rphost0")
        maker.record("25052609.log", 12, 34)
        lines, row = maker.record("25052609.log", 12, 35)
        self.assertEqual(lines, [
            "12:35.520528-3586905,CALL,2,level=INFO,process=rphost,"
            "p:processName=srv1-rphost0,OSThread=15849,t:clientID=5925,"
            "t:applicationName=BackgroundJob,t:computerName=HOST02,t:connectID=23563,"
            "SessionID=3815,Usr=robot_exchange,DBMS=DBMSSQL,DataBase=trade_ut11,Trans=0,"
            "dbpid=344,Rows=2458,RowsAffected=33,Context='Документ.РеализацияТоваровУслуг."
            "Форма.ФормаДокумента.Модуль : 4194 : Записать();'"])
        self.assertEqual(row, (
            "2025-05-26", "2025-05-26 09:12:35.520528", "CALL", 3586905, "robot_exchange",
            "trade_ut11", 3815, 5925, 23563, "", 2458, 33,
            "Документ.РеализацияТоваровУслуг.Форма.ФормаДокумента.Модуль : 4194 : Записать();",
            "srv1-rphost0"))

    def test_numeric_coercions(self):
        f = {"Component": "CONN", "SessionID": str(2**32 + 7), "t:clientID": "99999999999",
             "Rows": "-1", "RowsAffected": "x1"}
        row = g.expected_row("25052600.log", "\ufeff59:59.5-4294967296", f, "", "")
        self.assertEqual(row, ("2025-05-26", "2025-05-26 00:59:59.500000", "CONN", 0, "", "",
                               7, 4294967295, 0, "", -1, 0, "", ""))

    def test_drop_reasons(self):
        self.assertEqual(g.expected_row("a1.log", "00:01.1-1", {}, "", ""), "short_filename")
        self.assertEqual(g.expected_row("25052731.log", "00:01.1-1", {}, "", ""), "bad_hour")
        self.assertEqual(g.expected_row("25052608.log", "garbled", {}, "", ""), "no_time_match")
        self.assertEqual(g.expected_row("25052608.log", "75:12.000001-3", {}, "", ""), "bad_time")


if __name__ == "__main__":
    unittest.main()
