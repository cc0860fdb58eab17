"""Deterministic 1C tech-log generator for the pump benchmark.

It writes `.log` trees and, for every record it writes, the row the pump
must produce or the reason the pump must drop it. The expected values come
from this module's own model of the record grammar in FIXTURES.md (header
split, `Sql=` quoting with `\\`-escapes and timestamp scrub, `Context` to
the last quote, file-name date and hour, NUL strip, BOM strip, CRLF). The
program's parser is never called: a shared bug could not hide itself.

Expected rows are tuples in `COLUMNS` order. `ExceptionType` and
`ErrorText` are always null and are checked apart from the tuples.
"""
import calendar
import os
import random
import re

COLUMNS = ("EventDate", "EventTime", "EventType", "Duration", "User",
           "InfoBase", "SessionID", "ClientID", "ConnectionID", "SQLText",
           "Rows", "RowsAffected", "Context", "ProcessName")

TABLE_MAP = {"DBMSSQL": "sql_logs", "SDBL": "sdbl_logs", "EXCP": "excp_logs"}
DEFAULT_TABLE = "logs"

# The traffic model below (component weights, payload shares and lengths,
# file-size skew) is an assumption, not taken from a real tech log: no
# sample is in the repository, and FIXTURES.md fixes only the grammar.
# README.md gives the reason for each choice.
COMPONENTS = (("DBMSSQL", 35), ("SDBL", 20), ("CALL", 20), ("TLOCK", 10),
              ("CONN", 10), ("EXCP", 5))
BIG_EVERY, BIG_FACTOR = 36, 40   # every 36th file holds 40 times the records
MALFORMED_RATE = 0.01            # records the pump must drop
TAIL_PROCS, TAIL_ROTATE_S = 3, 4  # tail: rphost dirs, seconds per hour file
USERS = ("Иванов И.И.", "Петрова А.С.", "admin", "Сидоров", "robot_exchange",
         "Кузнецова Е.В.", "buh01")
BASES = ("accounting", "trade_ut11", "zup", "erp_main")
APPS = ("1CV8C", "1CV8", "BackgroundJob", "WebClient")
HOSTS = ("HOST01", "HOST02", "TERM-03", "APP-SRV")
CONTEXT_LINES = ("Документ.РеализацияТоваровУслуг.Форма.ФормаДокумента.Модуль : {n} : Записать();",
                 "ОбщийМодуль.ПроведениеСервер.Модуль : {n} : ВыполнитьЗапрос(Запрос);",
                 "Обработка.ЗагрузкаДанных.МодульОбъекта : {n} : Загрузить();",
                 "Регистр.ОстаткиТоваров.МодульНабораЗаписей : {n} : ПередЗаписью(Отказ)")
SQL_TABLES = ("_Document123", "_AccumRg456", "_InfoRg789", "_Reference42",
              "_Const17", "_AccRgAT0811")

UINT32_MAX = 4294967295
INT32_MAX, INT32_MIN = 2147483647, -2147483648
_SCRUB = re.compile(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}")
_TIME = re.compile(r"(\d{2}):(\d{2})\.(\d{1,6})")


def java_trim(s):
    """String.trim: strip every char <= U+0020 from both ends."""
    a, b = 0, len(s)
    while a < b and s[a] <= " ":
        a += 1
    while b > a and s[b - 1] <= " ":
        b -= 1
    return s[a:b]


def table_for(component):
    return TABLE_MAP.get(component, DEFAULT_TABLE)


def expected_row(file_name, log_ts, f, sql, context):
    """The sink row for one record, or the drop reason.

    `file_name` is the base name (`YYMMDDHH.log`), `log_ts` the first
    header field, `f` the header key/value map, `sql`/`context` the
    extracted payloads.
    """
    if len(file_name) < 8:
        return "short_filename"
    hour_raw = file_name[6:8]
    if not re.fullmatch(r"[+-]?[0-9]+", hour_raw) or not 0 <= int(hour_raw) <= 23:
        return "bad_hour"
    lt = log_ts[1:] if log_ts.startswith("\ufeff") else log_ts
    m = _TIME.search(lt)
    if not m:
        return "no_time_match"
    mm, ss, frac = m.group(1), m.group(2), m.group(3)
    if int(mm) > 59 or int(ss) > 59:
        return "bad_time"
    date = f"20{file_name[0:2]}-{file_name[2:4]}-{file_name[4:6]}"
    event_time = f"{date} {int(hour_raw):02d}:{mm}:{ss}.{frac.ljust(6, '0')}"
    dur_raw = lt.split("-", 1)[1] if "-" in lt else None
    duration = int(dur_raw) if dur_raw and dur_raw.isdigit() and int(dur_raw) <= UINT32_MAX else 0

    def uint(k, hi):
        v = f.get(k, "")
        return min(int(v), hi) if v.isdigit() else 0

    def int32(k):
        v = f.get(k, "")
        if not re.fullmatch(r"[+-]?[0-9]+", v):
            return 0
        return max(INT32_MIN, min(INT32_MAX, int(v)))

    return (date, event_time, f.get("Component", ""), duration, f.get("Usr", ""),
            f.get("DataBase", ""), uint("SessionID", 2**63 - 1) % 2**32,
            uint("t:clientID", UINT32_MAX), uint("t:connectID", UINT32_MAX), sql,
            int32("Rows"), int32("RowsAffected"), context, f.get("p:processName", ""))


class RecordMaker:
    """Renders records and their expected outcome from one seeded RNG."""

    def __init__(self, rng, process_name):
        self.rng = rng
        self.process_name = process_name

    def _sql(self):
        r = self.rng
        t = r.choice(SQL_TABLES)
        cols = ", ".join(f"T1._Fld{r.randrange(100, 999)}RRef" for _ in range(r.randrange(2, 12)))
        lines = [f"SELECT {cols}", f"FROM dbo.{t} T1 WITH(NOLOCK)"]
        for _ in range(r.randrange(0, 6)):
            lines.append(f"LEFT OUTER JOIN dbo.{r.choice(SQL_TABLES)} T{r.randrange(2, 9)} "
                         f"ON T1._IDRRef = T{r.randrange(2, 9)}._Fld{r.randrange(100, 999)}RRef")
        lines.append(f"WHERE T1._Period > 2025-0{r.randrange(1, 9)}-1{r.randrange(0, 9)} "
                     f"0{r.randrange(0, 9)}:00:00 AND T1._Description = 'Товар \\ {r.randrange(1000)}'")
        if r.random() < 0.3:
            lines.append(f"AND T1._Marked = 0x00 AND T1._Code LIKE N'%{r.randrange(10**6)}%'")
        return "\n".join(lines)

    def _context(self):
        r = self.rng
        return "\n".join(r.choice(CONTEXT_LINES).format(n=r.randrange(1, 5000))
                         for _ in range(r.randrange(1, 4)))

    def record(self, file_name, minute, second, session_id=None):
        """One record: (physical lines, expected row or drop reason)."""
        r = self.rng
        comp = r.choices([c for c, _ in COMPONENTS], [w for _, w in COMPONENTS])[0]
        frac = f"{r.randrange(10**6):06d}"
        dur = str(r.randrange(1, 5 * 10**6)) if r.random() > 0.002 else str(UINT32_MAX + r.randrange(1, 99))
        log_ts = f"{minute:02d}:{second:02d}.{frac}-{dur}"
        if session_id is None:
            session_id = r.randrange(1, 5000) if r.random() > 0.01 else 2**32 + r.randrange(1, 999)
        user = r.choice(USERS)
        f = {"Component": comp, "level": "INFO", "process": "rphost",
             "p:processName": self.process_name, "OSThread": str(r.randrange(1000, 30000)),
             "t:clientID": str(r.randrange(1, 9000)), "t:applicationName": r.choice(APPS),
             "t:computerName": r.choice(HOSTS), "t:connectID": str(r.randrange(1, 90000)),
             "SessionID": str(session_id), "Usr": user, "DBMS": "DBMSSQL",
             "DataBase": r.choice(BASES), "Trans": str(r.randrange(0, 2)),
             "dbpid": str(r.randrange(50, 400)), "Rows": str(r.randrange(-1, 5000)),
             "RowsAffected": str(r.randrange(0, 50))}
        keys = ("level", "process", "p:processName", "OSThread", "t:clientID",
                "t:applicationName", "t:computerName", "t:connectID", "SessionID", "Usr",
                "DBMS", "DataBase", "Trans", "dbpid", "Rows", "RowsAffected")
        rendered = {k: f[k] for k in keys}
        if r.random() < 0.01:  # NUL bytes inside a value are stripped per line
            rendered["Usr"] = user[:2] + "\x00" + user[2:]
        head = f"{log_ts},{comp},{r.randrange(0, 6)}," + ",".join(f"{k}={v}" for k, v in rendered.items())
        if r.random() < 0.005:  # a BOM in front of the time is stripped
            head = "\ufeff" + head

        sql, context, tail = "", "", ""
        if comp in ("DBMSSQL", "SDBL"):
            kind = r.random()
            if kind < 0.01:  # empty payload after Sql=
                tail = ",Sql="
            elif kind < 0.02:  # unterminated quote: the rest of the record
                text = f"SELECT 1 FROM dbo.{r.choice(SQL_TABLES)} WHERE x = 2025-05-26 07:00:00"
                tail = ",Sql='" + text
                sql = java_trim(_SCRUB.sub("", text))
            else:
                q = "'" if r.random() < 0.9 else '"'
                logical = self._sql()
                esc = "".join("\\" + c if c in (q, "\\") else c for c in logical)
                tail = f",Sql={q}{esc}{q}"
                sql = java_trim(_SCRUB.sub("", logical))
                if r.random() < 0.5:
                    context = self._context()
                    tail += f",Context='{context}'"
        elif r.random() < 0.4:
            context = self._context()
            tail = f",Context='{context}'"
        text = head + tail
        lines = text.split("\n")
        return lines, expected_row(file_name, log_ts, f, sql, context)

    def malformed(self, file_name, minute, second):
        """A record the pump must drop, with its reason."""
        r = self.rng
        if r.random() < 0.5:  # minute out of range: the time does not parse
            lt = f"{60 + r.randrange(40):02d}:{second:02d}.{r.randrange(10**6):06d}-{r.randrange(1, 999)}"
            line = f"{lt},CALL,3,process=rphost,p:processName={self.process_name},Usr=admin"
            return [line], expected_row(file_name, lt, {}, "", "")
        # the boundary pattern appears only after the first field
        line = f"garbled,CALL,3,Memo=retry at {minute:02d}:{second:02d}.{r.randrange(100, 999)}-x"
        return [line], expected_row(file_name, "garbled", {}, "", "")


def render_file(records, crlf, bom):
    eol = "\r\n" if crlf else "\n"
    body = eol.join(line for lines in records for line in lines) + eol
    return (b"\xef\xbb\xbf" if bom else b"") + body.encode("utf-8")


def write_file(path, data, day, hour, second):
    """Write `data` and set its mtime to `day`.05.2025 `hour`:00:`second`
    UTC, as a finished hourly log has it. The text source admits files in
    mtime order, so distinct mtimes make the split of the tree into
    micro-batches independent of how fast the files were written."""
    with open(path, "wb") as fh:
        fh.write(data)
    t = calendar.timegm((2025, 5, day, hour, 0, second))
    os.utime(path, (t, t))


def write_backlog(root, seed, servers=("srv1",), procs=3, hours=48, records_per_file=75):
    """Write the backlog tree under `root`.

    Each server holds `procs` rphost dirs of `hours` hourly files; every
    `BIG_EVERY`-th file is `BIG_FACTOR` times larger (the skew). Returns
    (log directory map, physical lines per map key, expected rows by
    table, drop counts by reason, total bytes).
    """
    rng = random.Random(seed)
    expected = {}
    drops = {}
    total = 0
    dirs = {}
    lines = {}
    n = 0
    for si, server in enumerate(servers):
        sdir = os.path.join(root, server)
        key = f"Map{si + 1}"
        dirs[key] = sdir
        lines[key] = 0
        for p in range(procs):
            pdir = os.path.join(sdir, f"rphost_{4000 + 17 * p + si}")
            os.makedirs(pdir, exist_ok=True)
            maker = RecordMaker(rng, f"{server}-rphost{p}")
            for h in range(hours):
                day, hour = 20 + 2 * si + h // 24, h % 24
                name = f"2505{day}{hour:02d}.log"
                count = records_per_file * (BIG_FACTOR if n % BIG_EVERY == BIG_EVERY - 1 else 1)
                n += 1
                recs = []
                if rng.random() < 0.1:  # leading junk before the first record
                    recs.append((["Log started"], expected_row(name, "Log started", {}, "", "")))
                for i in range(count):
                    sec = i * 3600 // count
                    mk = maker.malformed if rng.random() < MALFORMED_RATE else maker.record
                    recs.append(mk(name, sec // 60, sec % 60))
                data = render_file([l for l, _ in recs], crlf=rng.random() < 0.25,
                                   bom=rng.random() < 0.2)
                write_file(os.path.join(pdir, name), data, day, hour + 1, p)
                total += len(data)
                lines[key] += data.count(b"\n")
                for _, exp in recs:
                    if isinstance(exp, str):
                        drops[exp] = drops.get(exp, 0) + 1
                    else:
                        expected.setdefault(table_for(exp[2]), []).append(exp)
            # file names the pump must reject whole
            for j, name in enumerate(("25052731.log", "a1.log")):
                rec, exp = maker.record(name, 1, 2)
                data = render_file([rec], crlf=False, bom=False)
                write_file(os.path.join(pdir, name), data, 20, 0, 2 * p + j)
                total += len(data)
                lines[key] += data.count(b"\n")
                drops[exp] = drops.get(exp, 0) + 1
    return dirs, lines, expected, drops, total


def tail_schedule(root, seed, seconds, rate):
    """The `tail` writer's schedule: records due at `rate` per second in
    total, spread round-robin over `TAIL_PROCS` rphost dirs, each appended
    to the current-hour file, which rotates every `TAIL_ROTATE_S` seconds
    of run time. Every record carries a unique SessionID and is stamped with its
    due time (MM:SS.ffffff within the rotated hour).

    Creates the (empty) dirs and returns (log directory map,
    [(due ms, relative path, record bytes)], {session id: (table, row)}).
    """
    rng = random.Random(seed)
    makers = [RecordMaker(rng, f"srv1-rphost{p}") for p in range(TAIL_PROCS)]
    for p in range(TAIL_PROCS):
        os.makedirs(os.path.join(root, "srv1", f"rphost_{4000 + 17 * p}"), exist_ok=True)
    schedule, expected = [], {}
    for i in range(int(seconds * rate)):
        due_ms = i * 1000 // rate
        hour, in_hour_ms = divmod(due_ms, TAIL_ROTATE_S * 1000)
        p = i % TAIL_PROCS
        name = f"250601{hour:02d}.log"
        sec, ms = divmod(in_hour_ms, 1000)
        lines, row = makers[p].record(name, sec // 60, sec % 60, session_id=i + 1)
        # stamp the due time to the millisecond
        row = row[:1] + (row[1][:20] + f"{ms:03d}" + row[1][23:],) + row[2:]
        b = 1 if lines[0].startswith("\ufeff") else 0
        lines[0] = lines[0][:6 + b] + f"{ms:03d}" + lines[0][9 + b:]
        data = ("\n".join(lines) + "\n").encode("utf-8")
        schedule.append((due_ms, f"srv1/rphost_{4000 + 17 * p}/{name}", data))
        expected[i + 1] = (table_for(row[2]), row)
    return {"Map1": os.path.join(root, "srv1")}, schedule, expected
