"""Dependency-free iCalendar (ICS, RFC 5545) parsing — calendar
exports ride along in the same mail/crawl dumps the eml class covers
(meeting invites ARE text/calendar MIME parts). Additive vs the
reference (no calendar route).

* :func:`parse_ics` — one VCALENDAR → component census (VEVENT /
  VTODO / VJOURNAL counts), per-event records (uid, summary with
  RFC 5545 escape sequences decoded, dtstart/dtend as verbatim
  value strings, exact integer duration_s for DATE-TIME pairs and
  DURATION properties, recurrence flag, attendee count). Line
  UNFOLDING per §3.1 (CRLF followed by a space/tab continues the
  line) happens before any property parse. Strict about structure
  (missing VCALENDAR envelope, an unterminated component, a
  malformed DURATION raise ValueError — the dead-letter discipline),
  tolerant about content (unknown properties/components ride along;
  TZID-qualified or DATE-valued starts carry no duration rather
  than guessing timezone math).
* :func:`build_ics` — fixture twin.

Duration math is exact integer seconds: ``DTSTART``/``DTEND`` pairs
resolve only when BOTH are bare (UTC ``Z`` or floating) DATE-TIMEs on
the same form — ``YYYYMMDDTHHMMSS[Z]`` differences computed via
day-number arithmetic (no datetime module float surface, no timezone
guessing); ``DURATION`` parses the §3.3.6 dur-value grammar.
"""

from __future__ import annotations

import re

_DT_RE = re.compile(r"^(\d{4})(\d{2})(\d{2})T(\d{2})(\d{2})(\d{2})(Z?)$")
_DUR_RE = re.compile(
    r"^([+-]?)P(?:(\d+)W)?(?:(\d+)D)?"
    r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$"
)


def _days_from_civil(y: int, m: int, d: int) -> int:
    """Days since 1970-01-01 (Howard Hinnant's exact integer
    algorithm — public domain, used widely; no datetime module)."""
    y -= m <= 2
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _dt_seconds(v: str):
    """Bare DATE-TIME value → (epoch-ish seconds, is_utc) or None for
    DATE values / anything non-matching."""
    m = _DT_RE.match(v)
    if m is None:
        return None
    y, mo, d, h, mi, s, z = m.groups()
    if not (1 <= int(mo) <= 12 and 1 <= int(d) <= 31):
        raise ValueError(f"ics: out-of-range date {v!r}")
    if int(h) > 23 or int(mi) > 59 or int(s) > 60:
        raise ValueError(f"ics: out-of-range time {v!r}")
    days = _days_from_civil(int(y), int(mo), int(d))
    return days * 86400 + int(h) * 3600 + int(mi) * 60 + int(s), z == "Z"


def parse_duration(v: str) -> int:
    """RFC 5545 §3.3.6 dur-value → signed integer seconds."""
    m = _DUR_RE.match(v.strip())
    if m is None or not any(m.groups()[1:]):
        raise ValueError(f"ics: malformed DURATION {v!r}")
    sign, w, d, h, mi, s = m.groups()
    total = (
        int(w or 0) * 604800
        + int(d or 0) * 86400
        + int(h or 0) * 3600
        + int(mi or 0) * 60
        + int(s or 0)
    )
    return -total if sign == "-" else total


def _unescape(v: str) -> str:
    """§3.3.11 TEXT escapes: \\n \\N \\, \\; \\\\ (one pass)."""
    out = []
    i = 0
    while i < len(v):
        c = v[i]
        if c == "\\" and i + 1 < len(v):
            nxt = v[i + 1]
            out.append("\n" if nxt in "nN" else nxt)
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def parse_ics(content: bytes | str) -> dict:
    """Parse one VCALENDAR → ``{"n_events", "n_todos", "n_journals",
    "prodid", "events": [{"uid", "summary", "dtstart", "dtend",
    "duration_s", "recurring", "n_attendees", "all_day"}, ...]}``.

    ``duration_s`` comes from a DURATION property, else from a bare
    DATE-TIME DTSTART/DTEND pair with matching UTC-ness (None
    otherwise — never timezone guessing); ``all_day`` flags
    DATE-valued DTSTART. Raises ValueError per the module contract."""
    if isinstance(content, (bytes, bytearray)):
        try:
            content = bytes(content).decode("utf-8")
        except UnicodeDecodeError as e:
            raise ValueError(f"ics: not UTF-8 ({e})") from e
    # §3.1 unfold: CRLF (or bare LF — tolerate) + WSP continues
    unfolded = re.sub(r"\r?\n[ \t]", "", content.lstrip("﻿"))
    lines = [ln for ln in unfolded.replace("\r", "").split("\n") if ln]
    if not lines or lines[0].upper() != "BEGIN:VCALENDAR":
        raise ValueError("ics: missing BEGIN:VCALENDAR envelope")
    prodid = None
    counts = {"VEVENT": 0, "VTODO": 0, "VJOURNAL": 0}
    events: list[dict] = []
    stack: list[str] = ["VCALENDAR"]
    cur: dict | None = None
    for ln in lines[1:]:
        if not stack:
            raise ValueError("ics: content after END:VCALENDAR")
        name, _, value = ln.partition(":")
        prop, _, _params = name.partition(";")
        prop = prop.upper()
        if prop == "BEGIN":
            comp = value.strip().upper()
            stack.append(comp)
            if comp in counts:
                counts[comp] += 1
            if comp == "VEVENT":
                cur = {
                    "uid": None, "summary": None, "dtstart": None,
                    "dtend": None, "duration_s": None,
                    "recurring": False, "n_attendees": 0,
                    "all_day": False, "_params": {},
                }
            continue
        if prop == "END":
            comp = value.strip().upper()
            if not stack or stack[-1] != comp:
                raise ValueError(
                    f"ics: END:{comp} does not match open {stack[-1] if stack else 'nothing'}"
                )
            stack.pop()
            if comp == "VEVENT" and cur is not None:
                ps = cur.pop("_params")
                if cur["duration_s"] is None and cur["dtstart"] and cur["dtend"]:
                    a = _dt_seconds(cur["dtstart"])
                    b = _dt_seconds(cur["dtend"])
                    if a is not None and b is not None and a[1] == b[1]:
                        cur["duration_s"] = b[0] - a[0]
                if cur["dtstart"] and _DT_RE.match(cur["dtstart"]) is None:
                    cur["all_day"] = (
                        ps.get("DTSTART", "").upper().find("VALUE=DATE") >= 0
                        or re.fullmatch(r"\d{8}", cur["dtstart"]) is not None
                    )
                events.append(cur)
                cur = None
            continue
        if stack[-1] == "VCALENDAR" and prop == "PRODID":
            prodid = value
        if cur is not None and stack[-1] == "VEVENT":
            if prop == "UID":
                cur["uid"] = value
            elif prop == "SUMMARY":
                cur["summary"] = _unescape(value)
            elif prop == "DTSTART":
                cur["dtstart"] = value.strip()
                cur["_params"]["DTSTART"] = name
            elif prop == "DTEND":
                cur["dtend"] = value.strip()
            elif prop == "DURATION":
                cur["duration_s"] = parse_duration(value)
            elif prop in ("RRULE", "RDATE"):
                cur["recurring"] = True
            elif prop == "ATTENDEE":
                cur["n_attendees"] += 1
    if stack:  # a terminated calendar pops everything incl. VCALENDAR
        raise ValueError(f"ics: unterminated component {stack[-1]}")
    return {
        "n_events": counts["VEVENT"],
        "n_todos": counts["VTODO"],
        "n_journals": counts["VJOURNAL"],
        "prodid": prodid,
        "events": events,
    }


def build_ics(events: list[dict], todos: int = 0) -> str:
    """Fixture twin: event dicts (uid, summary, dtstart, dtend |
    duration_s, rrule bool, attendees int) → folded VCALENDAR text
    (long SUMMARY lines fold at 72 octets per §3.1)."""
    out = ["BEGIN:VCALENDAR", "VERSION:2.0", "PRODID:-//fixture//EN"]
    for e in events:
        out.append("BEGIN:VEVENT")
        if e.get("uid"):
            out.append(f"UID:{e['uid']}")
        if e.get("summary") is not None:
            s = (
                e["summary"]
                .replace("\\", "\\\\")
                .replace("\n", "\\n")
                .replace(",", "\\,")
                .replace(";", "\\;")
            )
            line = f"SUMMARY:{s}"
            while len(line) > 72:
                out.append(line[:72])
                line = " " + line[72:]
            out.append(line)
        if e.get("dtstart"):
            out.append(f"DTSTART:{e['dtstart']}")
        if e.get("dtend"):
            out.append(f"DTEND:{e['dtend']}")
        if e.get("duration_s") is not None:
            d = e["duration_s"]
            out.append(
                f"DURATION:PT{d // 3600}H{d % 3600 // 60}M{d % 60}S"
            )
        if e.get("rrule"):
            out.append("RRULE:FREQ=WEEKLY;COUNT=4")
        for i in range(e.get("attendees", 0)):
            out.append(f"ATTENDEE:mailto:a{i}@example.org")
        out.append("END:VEVENT")
    for _ in range(todos):
        out += ["BEGIN:VTODO", "SUMMARY:todo", "END:VTODO"]
    out.append("END:VCALENDAR")
    return "\r\n".join(out) + "\r\n"
