"""SUTime subset: document dates + relative/duration/range/set/holiday
temporal expressions.

Behavioral reference (re-expressed): ``time/SUTime.java`` (+ the English
rules in ``time/rules/english.sutime.txt``):
  - docdate assignment: ``pipeline/DocDateAnnotator.java`` (fixed / derived);
  - absolute dates are tagged in ner.numeric_pass; this stage resolves
    relative day/week/month/year expressions against the docdate,
    PRESENT/PAST/FUTURE_REF, ISO-8601 durations ("three years" → P3Y),
    weekday references ("on Friday" → the ISO-week date; "last Friday" /
    "next Friday" offset a week), RANGES ("from 1992 to 2004" →
    "1992/2004" interval notation, TIMEX3 beginPoint/endPoint),
    SETS ("every Friday" → XXXX-WXX-5, "daily" → P1D — TIMEX3 type SET),
    HOLIDAYS (fixed-date table + computed movable feasts: Easter via the
    Gauss computus, US Thanksgiving as the 4th Thursday of November), and
    QUARTERS ("Q3 2020" / "third quarter" → 2020-Q3).
Timex values stay strings (``pipeline/WikidictAnnotator.java:125-140``
consumes them as strings — SURVEY.md §1.1).

``annotate_tokens`` runs inside the fused annotation kernel right after NER
(``plans.fused.annotate(..., sutime=True)``); the docdate column is plain
Spark SQL.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corenlp_spark.operators.ner import (NUMBER_WORDS, _NUM_SCALES,
                                         _ORD_WORDS, _unit_value,
                                         _word_number_span)

_UNIT = {"day": "D", "days": "D", "week": "W", "weeks": "W",
         "month": "M", "months": "M", "year": "Y", "years": "Y"}
_CARDINALS = {"two": 2, "three": 3, "four": 4, "five": 5, "six": 6,
              "seven": 7, "eight": 8, "nine": 9, "ten": 10}
# common zone abbreviations (time/SUTime timezone tokens join the TIME
# span; values stay zone-free — no tz database in this engine)
_TZ_ABBREVS = {"est", "edt", "cst", "cdt", "mst", "mdt", "pst", "pdt",
               "gmt", "utc", "bst", "cet", "cest", "jst", "ist", "msk"}
#: RFC-822 numeric offsets the reference's JodaTime zone table renders for
#: these names (SUTimeITest testSUIsoWithTimezone — note PDT/EDT render at
#: the STANDARD offset there, matching the gold)
_TZ_OFFSET = {"pst": "-0800", "pdt": "-0800", "est": "-0500",
              "edt": "-0500", "cst": "-0600", "cdt": "-0600",
              "mst": "-0700", "mdt": "-0700", "gmt": "+0000",
              "utc": "+0000", "msk": "+0300"}
_TZ_REGION_OFFSET = {"pacific": "-0800", "eastern": "-0500",
                     "central": "-0600", "mountain": "-0700"}
_TZ_IANA = {"america/denver": "-0700", "america/los_angeles": "-0800",
            "america/new_york": "-0500", "america/chicago": "-0600",
            "europe/london": "+0000", "europe/moscow": "+0300"}


def _tz_suffix(words, lower, j):
    """Timezone tokens starting at j → (end, offset) or None: an abbrev
    (PST), an IANA name (America/Denver), or "<region> standard time"."""
    n = len(words)
    if j >= n:
        return None
    if lower[j] in _TZ_OFFSET:
        return j + 1, _TZ_OFFSET[lower[j]]
    if lower[j] in _TZ_ABBREVS:
        return j + 1, ""
    if lower[j] in _TZ_IANA:
        return j + 1, _TZ_IANA[lower[j]]
    if (j + 2 < n and lower[j] in _TZ_REGION_OFFSET
            and lower[j + 1] in ("standard", "daylight")
            and lower[j + 2] == "time"):
        return j + 3, _TZ_REGION_OFFSET[lower[j]]
    return None
_REF = {"now": "PRESENT_REF", "currently": "PRESENT_REF",
        "recently": "PAST_REF", "formerly": "PAST_REF", "soon": "FUTURE_REF"}
_WEEKDAYS = {"monday": 0, "tuesday": 1, "wednesday": 2, "thursday": 3,
             "friday": 4, "saturday": 5, "sunday": 6}
# TIMEX3 SET values for frequency adverbs
_FREQ_SETS = {"daily": "P1D", "weekly": "P1W", "monthly": "P1M",
              "annually": "P1Y", "yearly": "P1Y", "hourly": "PT1H",
              "quarterly": "P3M", "semi-annual": "P6M",
              "semiannual": "P6M", "biweekly": "P2W", "bimonthly": "P2M"}
_ORDINAL_WORDS = {"first": 1, "second": 2, "third": 3, "fourth": 4}
# fixed-date holidays (month, day) — english.sutime.txt holiday table subset
_HOLIDAYS_FIXED = {
    "christmas": (12, 25), "halloween": (10, 31),
    "juneteenth": (6, 19), "epiphany": (1, 6), "groundhog": (2, 2),
    "inauguration": (1, 20),
}
# nth-weekday movable holidays (english.holidays.sutime.txt JH_* rules):
# phrase words → (month, weekday 0=Mon, nth; -1 = last)
_HOLIDAYS_NTH: dict[tuple[str, ...], tuple[int, int, int]] = {
    ("martin", "luther", "king", "day"): (1, 0, 3),
    ("mlk", "day"): (1, 0, 3),
    ("presidents", "day"): (2, 0, 3),
    # standard punctuated spellings tokenize with a clitic apostrophe:
    # Presidents' -> presidents + ' ; President's -> president + 's
    ("presidents", "'", "day"): (2, 0, 3),
    ("president", "'s", "day"): (2, 0, 3),
    ("memorial", "day"): (5, 0, -1),
    ("labor", "day"): (9, 0, 1),
    ("labour", "day"): (9, 0, 1),
    ("columbus", "day"): (10, 0, 2),
    # possessive names arrive clitic-split from the tokenizer
    ("mother", "'s", "day"): (5, 6, 2),
    ("father", "'s", "day"): (6, 6, 3),
}


def _nth_weekday(year: int, month: int, dow: int, nth: int):
    """nth (1-based; -1 = last) weekday-of-month."""
    if nth > 0:
        d0 = datetime.date(year, month, 1)
        return d0 + datetime.timedelta(
            days=(dow - d0.weekday()) % 7 + 7 * (nth - 1))
    nm = datetime.date(year + month // 12, month % 12 + 1, 1)
    d = nm - datetime.timedelta(days=1)
    return d - datetime.timedelta(days=(d.weekday() - dow) % 7)


_MONTHS = {"january": 1, "february": 2, "march": 3, "april": 4, "may": 5,
           "june": 6, "july": 7, "august": 8, "september": 9, "october": 10,
           "november": 11, "december": 12}


# time-of-day → TIMEX3 suffix (english.sutime.txt TOD table)
_TOD = {"morning": "TMO", "afternoon": "TAF", "evening": "TEV",
        "night": "TNI"}
# seasons → TIMEX3 season codes; decade / mod-year patterns
_SEASONS = {"spring": "SP", "summer": "SU", "autumn": "FA", "fall": "FA",
            "winter": "WI"}
import re as _re

_RE_DECADE = _re.compile(r"^(1[6-9]\d|20\d)0s$")
_RE_MODYEAR = _re.compile(r"^(early|mid|late)-((?:1[6-9]|20)\d\d)$")
_RE_MODDECADE = _re.compile(r"^(early|mid|late)-((?:1[6-9]|20)\d)0s$")
_RE_MODMONTH = _re.compile(
    r"^(early|mid|late)-(january|february|march|april|may|june|july|august"
    r"|september|october|november|december)$")
# sub-day duration units → TIMEX3 PT-forms
# hyphenated duration adjectives: "3-year", "four-month", "22-year"
# (SUTimeITest.java:76-77 — "3-year" → P3Y, "four-month old" → P4M)
_RE_HYPHDUR = _re.compile(
    r"^(\d{1,4}|[a-z]+)-(year|month|week|day|hour|minute|second)$")

_TUNIT = {"hour": "H", "hours": "H", "minute": "M", "minutes": "M",
          "second": "S", "seconds": "S"}
_MOD_WORD = {"early": "EARLY", "mid": "MID", "late": "LATE"}
_NTH = {"first": 1, "second": 2, "third": 3, "fourth": 4, "last": -1}


def _unit_offset(docdate: datetime.date, unit: str, k: int) -> str:
    """Value of docdate shifted by k units, at the granularity TIMEX3 uses
    for that unit: D → ISO date, W → ISO week (YYYY-Www), M → year-month,
    Y → year (SUTime RelativeTime resolution)."""
    if unit == "D":
        return (docdate + datetime.timedelta(days=k)).isoformat()
    if unit == "W":
        d = docdate + datetime.timedelta(weeks=k)
        iso = d.isocalendar()
        return f"{iso[0]}-W{iso[1]:02d}"
    if unit == "M":
        m = docdate.month - 1 + k
        return f"{docdate.year + m // 12}-{m % 12 + 1:02d}"
    return str(docdate.year + k)


#: first tokens that can begin any holiday expression (gates _holiday)
_HOLIDAY_TRIGGERS = ({k[0] for k in _HOLIDAYS_FIXED}
                     | {k[0] for k in _HOLIDAYS_NTH}
                     | {"christmas", "easter", "thanksgiving", "good",
                        "palm", "ash", "mardi", "new", "halloween",
                        "valentine", "valentine's", "st.", "st",
                        "independence", "labor", "memorial", "veterans",
                        "presidents", "presidents'", "president",
                        "mother", "mother's", "mothers", "father",
                        "father's", "fathers", "mlk", "martin",
                        "juneteenth", "epiphany", "april", "boxing",
                        "groundhog", "inauguration", "columbus", "patriots", "pentecost",
                        "whit", "shrove", "maundy", "corpus", "all",
                        "assumption", "immaculate", "candlemas"})


def _easter(year: int) -> datetime.date:
    """Gauss/Anonymous computus for Western Easter (public algorithm)."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    g = (8 * b + 13) // 25
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return datetime.date(year, month, day + 1)


def _thanksgiving(year: int) -> datetime.date:
    """4th Thursday of November (US)."""
    d = datetime.date(year, 11, 1)
    off = (3 - d.weekday()) % 7  # first Thursday
    return d + datetime.timedelta(days=off + 21)


def _holiday(words: list[str], lower: list[str], i: int, year: int):
    """(value, n_tokens) for a holiday expression starting at token i."""
    lower_word = lower[i]
    next_word = lower[i + 1] if i + 1 < len(lower) else None
    # "Christmas Eve" is its own holiday (Dec 24), not Christmas + noise;
    # "Christmas Day" consumes both tokens (english.holidays.sutime.txt)
    if lower_word == "christmas" and next_word == "eve":
        return f"{year}-12-24", 2
    if lower_word in _HOLIDAYS_FIXED:
        m, d = _HOLIDAYS_FIXED[lower_word]
        n = 2 if ((lower_word in ("groundhog", "inauguration")
                   and next_word == "day")
                  or (lower_word == "christmas" and next_word == "day")) \
            else 1
        return f"{year}-{m:02d}-{d:02d}", n
    # "Valentine's Day" arrives clitic-split: valentine + 's + day
    if (lower_word == "valentine" and next_word == "'s"
            and i + 2 < len(lower) and lower[i + 2] == "day"):
        return f"{year}-02-14", 3
    for phrase, (m, dow, nth) in _HOLIDAYS_NTH.items():
        if tuple(lower[i:i + len(phrase)]) == phrase:
            return _nth_weekday(year, m, dow, nth).isoformat(), len(phrase)
    if lower_word == "easter":
        return _easter(year).isoformat(), 1
    # Easter-relative feasts (computus offsets; english.holidays.sutime.txt
    # JH_GOOD_FRIDAY / JH_ASH_WEDNESDAY / JH_CLEAN_MONDAY)
    if (lower_word, next_word) == ("good", "friday"):
        return (_easter(year) - datetime.timedelta(days=2)).isoformat(), 2
    if (lower_word, next_word) == ("ash", "wednesday"):
        return (_easter(year) - datetime.timedelta(days=46)).isoformat(), 2
    if (lower_word, next_word) == ("palm", "sunday"):
        return (_easter(year) - datetime.timedelta(days=7)).isoformat(), 2
    if lower_word == "thanksgiving":
        return _thanksgiving(year).isoformat(), 1
    if lower_word == "new" and next_word in ("year's", "year"):
        # holiday gate (ADVICE r2): ordinary NPs like "a new year of growth"
        # must not become Jan-1 — require the possessive form ("new year's",
        # which the clitic split renders as year + 's) or proper-noun
        # capitalization ("New Year"), like SUTime's capitalized patterns
        cap = words[i][:1].isupper() and words[i + 1][:1].isupper()
        j = i + 2
        poss = next_word == "year's"
        if not poss and j < len(lower) and lower[j] == "'s":
            poss, j = True, j + 1
        if poss or cap:
            tail = lower[j] if j < len(lower) else None
            if tail == "eve":
                return f"{year}-12-31", j + 1 - i
            if tail == "day":
                return f"{year}-01-01", j + 1 - i
            return f"{year}-01-01", j - i
    return None


def with_docdate(df: DataFrame, fixed: str | None = None,
                 from_tags: bool = False) -> DataFrame:
    """+ docdate column: fixed ISO date; or extracted from document markup
    (``<date>/<docdate>`` elements — CleanXmlAnnotator docdate extraction,
    ``pipeline/CleanXmlAnnotator.java:176``); or a deterministic per-doc
    date derived from doc_id (2020-01-01 + hash days — the synth policy).
    Pure column algebra in all three modes."""
    if fixed:
        return df.withColumn("docdate", F.lit(fixed))
    derived = F.date_format(
        F.date_add(F.lit("2020-01-01").cast("date"),
                   F.pmod(F.xxhash64("doc_id"), F.lit(1461)).cast("int")),
        "yyyy-MM-dd",
    )
    if from_tags:
        joined = F.concat_ws(
            " ", F.transform("spans", lambda s: F.coalesce(s["text"], F.lit(""))))
        tag_date = F.regexp_extract(
            joined, r"(?i)<(?:doc)?date>\s*(\d{4}-\d{2}-\d{2})\s*</(?:doc)?date>", 1)
        return df.withColumn(
            "docdate", F.when(tag_date != "", tag_date).otherwise(derived))
    return df.withColumn("docdate", derived)


#: written hour words (one..twelve) for clock expressions
_HOUR_WORDS = {"one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
               "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10,
               "eleven": 11, "twelve": 12}
#: written minute terms for "past/to" clock expressions
_MINUTE_WORDS = {"five": 5, "ten": 10, "twenty": 20, "twenty-five": 25,
                 "quarter": 15, "half": 30}
_MERIDIEM = {"pm": 12, "p.m.": 12, "p.m": 12, "am": 0, "a.m.": 0, "a.m": 0}


def _hour_term(words, lower, j):
    """Parse an hour anchor at j → (end, hour24, explicit) or None.
    ``explicit`` = the anchor carries its own meridiem/absolute sense."""
    n = len(words)
    if j >= n:
        return None
    w = lower[j]
    if w == "noon":
        return j + 1, 12, True
    if w == "midnight":
        return j + 1, 0, True
    hh = None
    if w in _HOUR_WORDS:
        hh = _HOUR_WORDS[w]
    elif w.isdigit() and 1 <= int(w) <= 12:
        hh = int(w)
    if hh is None:
        return None
    if j + 1 < n and lower[j + 1] in _MERIDIEM:
        return j + 2, hh % 12 + _MERIDIEM[lower[j + 1]], True
    # "twelve" with no meridiem still anchors a clock phrase ("twenty
    # after twelve" → T12:20, SUTimeITest testSUTimeTime)
    return j + 1, hh, w == "twelve"


def _written_clock(words, lower, i):
    """"<min> [minutes] past/after/to/till <hour>" → (end, Thh:mm)."""
    n = len(words)
    w = lower[i]
    mm = None
    if w in _MINUTE_WORDS:
        mm = _MINUTE_WORDS[w]
    elif w.isdigit() and 1 <= int(w) <= 30:
        mm = int(w)
    if mm is None:
        return None
    j = i + 1
    if w == "quarter" and j < n and lower[j] == "of":
        # "a quarter of an hour" stays a duration
        return None
    explicit_min = False
    if j < n and lower[j] in ("minutes", "minute"):
        explicit_min = True
        j += 1
    if j >= n or lower[j] not in ("past", "after", "to", "till", "before"):
        return None
    direction = -1 if lower[j] in ("to", "till", "before") else 1
    ht = _hour_term(words, lower, j + 1)
    if ht is None:
        return None
    end, hh, explicit = ht
    # an unmarked "<d> to <d>" needs a meridiem/noon anchor to read as a
    # clock phrase ("3 to 4 p.m" → T15:57; "2 to 3 weeks" stays a range)
    if not (explicit or explicit_min or words[i].lower() in
            ("quarter", "half")):
        return None
    if direction > 0:
        return end, f"T{hh:02d}:{mm:02d}"
    return end, f"T{(hh - 1) % 24:02d}:{60 - mm:02d}"


def _oclock(words, lower, i):
    """"<hour> o'clock [in the <TOD>]" / "<hour> in the <TOD>" / "<hour>
    at night" → (end, Thh:mm, plus_days).

    12-hour edge semantics follow SUTimeITest testSUTime12AmPm: "12 in
    the morning" is midnight (T00:00); "12 in the evening" / "12 at
    night" is the NEXT day's midnight; "24 o'clock" stays T24:00."""
    n = len(words)
    w = lower[i]
    if w not in _HOUR_WORDS and not (words[i].isdigit()
                                     and 1 <= int(words[i]) <= 24):
        return None
    hh = _HOUR_WORDS.get(w) or int(words[i])
    j = i + 1
    has_oclock = j < n and lower[j] in ("o'clock", "o’clock")
    if has_oclock:
        j += 1
    if j + 2 < n and lower[j] == "in" and lower[j + 1] == "the" \
            and lower[j + 2] in ("morning", "afternoon", "evening"):
        if lower[j + 2] == "morning":
            if hh == 12:
                return j + 3, "T00:00", 0
        elif lower[j + 2] == "evening" and hh == 12:
            return j + 3, "T00:00", 1
        elif hh < 12:
            hh += 12
        return j + 3, f"T{hh:02d}:00", 0
    if j + 1 < n and lower[j] == "at" and lower[j + 1] == "night":
        if hh == 12:
            return j + 2, "T00:00", 1
        if hh < 12:
            hh += 12
        return j + 2, f"T{hh:02d}:00", 0
    if has_oclock and (hh <= 12 or hh == 24):
        return j, f"T{hh:02d}:00", 0
    return None


_CENTURY_WORDS = {"eighteen": 18, "nineteen": 19, "twenty": 20}
_TENS_WORDS = {"twenty": 2, "thirty": 3, "forty": 4, "fifty": 5,
               "sixty": 6, "seventy": 7, "eighty": 8, "ninety": 9}
_DECADE_PLURALS = {"twenties": 2, "thirties": 3, "forties": 4,
                   "fifties": 5, "sixties": 6, "seventies": 7,
                   "eighties": 8, "nineties": 9}
_UNITS_1_9 = {"one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
              "six": 6, "seven": 7, "eight": 8, "nine": 9}
_TEEN_WORDS = {"ten": 10, "eleven": 11, "twelve": 12, "thirteen": 13,
               "fourteen": 14, "fifteen": 15, "sixteen": 16,
               "seventeen": 17, "eighteen": 18, "nineteen": 19}


def _written_year(words, lower, i):
    """"nineteen ninety-one" → (end, "1991"); "nineteen fifties" →
    (end, "195X"); "nineteen ninety six" → (end, "1996")."""
    cent = _CENTURY_WORDS.get(lower[i])
    if cent is None or i + 1 >= len(words):
        return None
    nxt = lower[i + 1]
    if nxt in _DECADE_PLURALS:
        return i + 2, f"{cent}{_DECADE_PLURALS[nxt]}X"
    if nxt in _TEEN_WORDS:  # "twenty ten" → 2010
        return i + 2, str(cent * 100 + _TEEN_WORDS[nxt])
    if "-" in nxt:
        a, _, b = nxt.partition("-")
        if a in _TENS_WORDS and b in _UNITS_1_9:
            return i + 2, str(cent * 100 + _TENS_WORDS[a] * 10
                              + _UNITS_1_9[b])
    if nxt in _TENS_WORDS:
        if i + 2 < len(words) and lower[i + 2] in _UNITS_1_9:
            return i + 3, str(cent * 100 + _TENS_WORDS[nxt] * 10
                              + _UNITS_1_9[lower[i + 2]])
        return i + 2, str(cent * 100 + _TENS_WORDS[nxt] * 10)
    return None


def _shift_months(d: datetime.date, k: int) -> datetime.date:
    m0 = d.year * 12 + (d.month - 1) + k
    y, m = divmod(m0, 12)
    import calendar
    return datetime.date(y, m + 1, min(d.day, calendar.monthrange(y, m + 1)[1]))


_RX_YEAR4 = _re.compile(r"^(1[6-9]|20)\d\d$")
_RX_YEAR_ANY = _re.compile(r"^(19|20)\d\d$")
_RX_Q = _re.compile(r"^q([1-4])$")
_RX_ORD_DIGIT = _re.compile(r"^(\d{1,2})(?:st|nd|rd|th)$")
_RX_ORD_ANY = _re.compile(r"^(\d+)(?:st|nd|rd|th)$")
_RX_CLOCK = _re.compile(r"^(\d{1,2}):(\d{2})(?::(\d{2}))?$")
_RX_ISO_T = _re.compile(r"^\d{4}-\d\d-\d\dT[\d:]+$")
_RX_NUMRANGE = _re.compile(r"^(\d+)[-–](\d+)$")


def _resolve(words: list[str], lower: list[str], docdate: datetime.date):
    """Yield (start, end, ner, timex) for relative/duration/set/holiday/
    weekday/quarter expressions."""
    import re as _re

    n = len(words)
    monday = docdate - datetime.timedelta(days=docdate.weekday())
    i = 0
    while i < n:
        w = lower[i]
        # sets: "every Friday" / "every week" / "every other week" →
        # P2W / "every three days" → P3D / frequency adverbs (TIMEX3 SET;
        # time/SUTime.java PeriodicTemporal)
        if w == "every" and i + 1 < n:
            nxt = lower[i + 1]
            if nxt in _WEEKDAYS:
                yield i, i + 2, "SET", f"XXXX-WXX-{_WEEKDAYS[nxt] + 1}"
                i += 2
                continue
            # "every other Friday" → the weekday set (periodicity P2W is a
            # separate TIMEX3 attribute; the value stays the weekday)
            if nxt in ("other", "second") and i + 2 < n \
                    and lower[i + 2] in _WEEKDAYS:
                yield i, i + 3, "SET", f"XXXX-WXX-{_WEEKDAYS[lower[i + 2]] + 1}"
                i += 3
                continue
            # "every third week of October" → XXXX-10 INTERSECT P1W-#3
            # (SUTimeITest testSUTimeSet nth-week-of-month periodic)
            if (nxt in _ORD_WORDS and i + 4 < n and lower[i + 2] == "week"
                    and lower[i + 3] in ("of", "in")
                    and lower[i + 4] in _MONTHS):
                k = _ORD_WORDS[nxt]
                mm = _MONTHS[lower[i + 4]]
                yield i, i + 5, "SET", f"XXXX-{mm:02d} INTERSECT P1W-#{k}"
                i += 5
                continue
            if nxt in _UNIT:
                yield i, i + 2, "SET", f"P1{_UNIT[nxt]}"
                i += 2
                continue
            if nxt == "other" and i + 2 < n and lower[i + 2] in _UNIT:
                yield i, i + 3, "SET", f"P2{_UNIT[lower[i + 2]]}"
                i += 3
                continue
            if nxt in _CARDINALS and i + 2 < n and lower[i + 2] in _UNIT:
                yield (i, i + 3, "SET",
                       f"P{_CARDINALS[nxt]}{_UNIT[lower[i + 2]]}")
                i += 3
                continue
        if w in _FREQ_SETS:
            yield i, i + 1, "SET", _FREQ_SETS[w]
            i += 1
            continue
        # holidays (fixed + movable feasts), year from the docdate —
        # trigger-gated so the full matcher runs only on candidate tokens
        hol = _holiday(words, lower, i, docdate.year) \
            if w in _HOLIDAY_TRIGGERS else None
        if hol is not None:
            val, ntok = hol
            # an explicit trailing year re-pins the holiday: "Easter
            # 2011" → 2011-04-24 (SUTimeITest testSUTimeHolidays)
            if (i + ntok < n
                    and _RX_YEAR4.match(words[i + ntok])):
                hol2 = _holiday(words, lower, i, int(words[i + ntok]))
                if hol2 is not None:
                    val, ntok = hol2[0], hol2[1] + 1
            # holidays are authoritative over statistical NER (SUTime's
            # holiday rules outrank the CRF for these capitalized spans,
            # e.g. "New Year's Eve" must be DATE even if tagged PERSON)
            yield i, i + ntok, "DATE", val, True
            i += ntok
            continue
        # last/next/bare weekday → resolved ISO date
        if w in ("last", "next") and i + 1 < n and lower[i + 1] in _WEEKDAYS \
                and not (i + 3 < n and lower[i + 2] in ("of", "in")
                         and lower[i + 3] in _MONTHS):
            # "the last Friday in June" belongs to the nth-DOW-of-month
            # rule below, not the deictic last/next-weekday offset
            base = monday + datetime.timedelta(days=_WEEKDAYS[lower[i + 1]])
            base += datetime.timedelta(weeks=-1 if w == "last" else 1)
            yield i, i + 2, "DATE", base.isoformat()
            i += 2
            continue
        if w in _WEEKDAYS:
            d = monday + datetime.timedelta(days=_WEEKDAYS[w])
            yield i, i + 1, "DATE", d.isoformat()
            i += 1
            continue
        # quarters: "Q3 2020" / "Q3" / "third quarter" / "last quarter"
        mq = _RX_Q.match(w)
        if mq:
            year = docdate.year
            end = i + 1
            if i + 1 < n and _RX_YEAR_ANY.match(lower[i + 1]):
                year = int(lower[i + 1])
                end = i + 2
            yield i, end, "DATE", f"{year}-Q{mq.group(1)}"
            i = end
            continue
        if w in _ORDINAL_WORDS and i + 1 < n and lower[i + 1] == "quarter":
            # a year token right before the ordinal pins the year:
            # "The 1997 second quarter" → 1997-Q2 (SUTimeITest)
            year, s0 = docdate.year, i
            if i > 0 and _RX_YEAR4.match(words[i - 1]):
                year, s0 = int(words[i - 1]), i - 1
            yield s0, i + 2, "DATE", f"{year}-Q{_ORDINAL_WORDS[w]}"
            i += 2
            continue
        if w in ("last", "next", "this") and i + 1 < n and lower[i + 1] == "quarter":
            q = (docdate.month - 1) // 3 + 1
            off = -1 if w == "last" else (1 if w == "next" else 0)
            q0 = q - 1 + off
            yield i, i + 2, "DATE", f"{docdate.year + q0 // 4}-Q{q0 % 4 + 1}"
            i += 2
            continue
        # plural weekdays are periodic sets: "Thursdays in 1994" →
        # 1994-WXX-4, "alternate Fridays" / bare "Fridays" → XXXX-WXX-5
        # (SUTimeITest testSUTime2/testSUTimeSet)
        if w.endswith("s") and w[:-1] in _WEEKDAYS:
            dow = _WEEKDAYS[w[:-1]] + 1
            s0 = i
            if i > 0 and lower[i - 1] in ("alternate", "alternating"):
                s0 = i - 1
            year = "XXXX"
            end = i + 1
            if (i + 2 < n and lower[i + 1] == "in"
                    and _RX_YEAR4.match(words[i + 2])):
                year, end = words[i + 2], i + 3
            # authoritative over the statistical NER — a capitalized
            # plural weekday is decisively temporal, like holidays
            yield s0, end, "SET", f"{year}-WXX-{dow}", True
            i = end
            continue
        # "the <ordinal> of <month> [year]" → a day-of-month; without an
        # explicit year the reference fills the most recent month not
        # after the docdate's ("the second of December" → 1994-12-02 with
        # ref 1995-07-20; SUTimeITest testSUTime2:433-436,477-480)
        ow = _ORD_WORDS.get(w)
        if ow is None:
            m_ow = _RX_ORD_DIGIT.match(w)
            if m_ow:
                ow = int(m_ow.group(1))
        if (ow is not None and 1 <= ow <= 31 and i + 2 < n
                and lower[i + 1] == "of" and lower[i + 2] in _MONTHS):
            mm = _MONTHS[lower[i + 2]]
            end = i + 3
            if end < n and _RX_YEAR4.match(words[end]):
                year = int(words[end])
                end += 1
            else:
                year = docdate.year if mm <= docdate.month \
                    else docdate.year - 1
            s0 = i - 1 if i > 0 and lower[i - 1] == "the" else i
            yield s0, end, "DATE", f"{year}-{mm:02d}-{ow:02d}"
            i = end
            continue
        # written years and decades: "nineteen ninety-one" → 1991,
        # "nineteen ninety six" → 1996, "nineteen fifties" → 195X,
        # "the year two thousand" → 2000 (SUTimeITest testSUTimeDate)
        wy = _written_year(words, lower, i)
        if wy is not None:
            end, val = wy
            yield i, end, "DATE", val
            i = end
            continue
        if w == "year" and i + 1 < n:
            wy2 = _written_year(words, lower, i + 1)
            if wy2 is not None:
                yield i, wy2[0], "DATE", wy2[1]
                i = wy2[0]
                continue
            span_y = _word_number_span(words, i + 1)
            if span_y is not None and 1000 <= span_y[1] <= 2200 \
                    and span_y[1] == int(span_y[1]):
                yield i, span_y[0], "DATE", str(int(span_y[1]))
                i = span_y[0]
                continue
        # BC years: "567 bc" → -0566, "1000 BC" → -0999 (ISO-8601
        # proleptic astronomical year: year nBC = -(n-1), zero-padded)
        if w.isdigit() and 1 <= len(w) <= 4 and i + 1 < n \
                and lower[i + 1] in ("bc", "b.c.", "bce", "b.c.e."):
            yield i, i + 2, "DATE", f"-{int(w) - 1:04d}"
            i += 2
            continue
        # bare part-of-day with a determiner/mod gate: "late afternoon" /
        # "the evening" → docdate+TOD (deictic anchors have their own rule)
        if (w in _TOD and not (i + 1 < n and lower[i + 1] == "of")
                and i > 0 and lower[i - 1] in ("the", "early", "late",
                                               "mid")):
            yield i, i + 1, "TIME", docdate.isoformat() + _TOD[w]
            i += 1
            continue
        # "the last week of October" → the last ISO week starting in that
        # month (not the deictic last-week rule)
        if (w == "last" and i + 3 < n and lower[i + 1] == "week"
                and lower[i + 2] in ("of", "in") and lower[i + 3] in _MONTHS):
            mm = _MONTHS[lower[i + 3]]
            year = docdate.year
            import calendar as _cal
            last_day = datetime.date(year, mm,
                                     _cal.monthrange(year, mm)[1])
            iy, iw, _ = last_day.isocalendar()
            yield i, i + 4, "DATE", f"{iy}-W{iw:02d}"
            i += 4
            continue
        if w in _REF:
            yield i, i + 1, "DATE", _REF[w]
            i += 1
            continue
        # day compounds around deictic anchors: "the day after tomorrow" /
        # "the day before yesterday" (SUTime RelativeTime composition)
        if (w == "the" and i + 3 < n and lower[i + 1] == "day"
                and ((lower[i + 2], lower[i + 3]) in
                     (("after", "tomorrow"), ("before", "yesterday")))):
            sign = 2 if lower[i + 2] == "after" else -2
            d = docdate + datetime.timedelta(days=sign)
            yield i, i + 4, "DATE", d.isoformat()
            i += 4
            continue
        # times of day (english.sutime.txt TOD patterns): deictic anchor +
        # morning/afternoon/evening/night → TIMEX3 date+TOD suffix
        if (w in ("this", "yesterday", "tomorrow") and i + 1 < n
                and lower[i + 1] in _TOD) \
                or (w == "last" and i + 1 < n and lower[i + 1] == "night"):
            # "last night" → yesterday's TNI (SUTimeITest testSUTimeInexactTime)
            off = {"this": 0, "yesterday": -1, "tomorrow": 1, "last": -1}[w]
            d = docdate + datetime.timedelta(days=off)
            yield i, i + 2, "TIME", d.isoformat() + _TOD[lower[i + 1]]
            i += 2
            continue
        # part-of-day composed with an explicit date: "the morning of
        # June 5" → <year>-06-05TMO (time/SUTime.java RelativeTime
        # date+part-of-day composition; VERDICT r4 missing #4)
        if (w in _TOD and i + 3 < n and lower[i + 1] == "of"):
            mday = None
            if lower[i + 2] in _MONTHS and words[i + 3].isdigit() \
                    and 1 <= int(words[i + 3]) <= 31:
                mday = (_MONTHS[lower[i + 2]], int(words[i + 3]))
            elif words[i + 2].isdigit() and 1 <= int(words[i + 2]) <= 31 \
                    and lower[i + 3] in _MONTHS:
                mday = (_MONTHS[lower[i + 3]], int(words[i + 2]))
            if mday is not None:
                s0 = i - 1 if i > 0 and lower[i - 1] in ("the", "that") else i
                val = (f"{docdate.year}-{mday[0]:02d}-{mday[1]:02d}"
                       + _TOD[w])
                yield s0, i + 4, "TIME", val
                i += 4
                continue
        # decades: "the 1990s" → TIMEX3 decade value 199X
        m_dec = _RE_DECADE.match(w)
        if m_dec:
            yield i, i + 1, "DATE", m_dec.group(1) + "X"
            i += 1
            continue
        # approximate decade compounds: "the mid-1990s" → 199X|MID
        m_md = _RE_MODDECADE.match(w)
        if m_md:
            yield (i, i + 1, "DATE",
                   f"{m_md.group(2)}X|{_MOD_WORD[m_md.group(1)]}")
            i += 1
            continue
        # approximate year compounds: mid-2015 / early-1990 / late-2008
        m_mid = _RE_MODYEAR.match(w)
        if m_mid:
            mod = _MOD_WORD[m_mid.group(1)]
            yield i, i + 1, "DATE", f"{m_mid.group(2)}|{mod}"
            i += 1
            continue
        # hyphenated mod months: "mid-June" → <year>-06|MID (the spaced
        # form "early June" is handled by _mark_mods over the month DATE)
        m_mm = _RE_MODMONTH.match(w)
        if m_mm:
            mod = _MOD_WORD[m_mm.group(1)]
            yield (i, i + 1, "DATE",
                   f"{docdate.year}-{_MONTHS[m_mm.group(2)]:02d}|{mod}")
            i += 1
            continue
        # ordinal weekday-of-month (english.sutime.txt nth-DOW rules):
        # "the first Monday of March" / "the last Friday in June" /
        # "3rd wednesday in november" / "3rd thursday this september"
        nthw = _NTH.get(w)
        if nthw is None:
            m_nd = _re.match(r"^([1-5])(?:st|nd|rd|th)$", w)
            if m_nd:
                nthw = int(m_nd.group(1))
        if (nthw is not None and i + 3 < n and lower[i + 1] in _WEEKDAYS
                and lower[i + 2] in ("of", "in", "this", "next")
                and lower[i + 3] in _MONTHS):
            month = _MONTHS[lower[i + 3]]
            dow = _WEEKDAYS[lower[i + 1]]
            nth = nthw
            nyear = docdate.year
            if lower[i + 2] == "next" and month <= docdate.month:
                nyear += 1
            if nth > 0:
                d0 = datetime.date(nyear, month, 1)
                off = (dow - d0.weekday()) % 7
                d = d0 + datetime.timedelta(days=off + 7 * (nth - 1))
            else:  # last <dow> of month
                nm = datetime.date(nyear + month // 12,
                                   month % 12 + 1, 1)
                d = nm - datetime.timedelta(days=1)
                d -= datetime.timedelta(days=(d.weekday() - dow) % 7)
            if d.month == month:
                yield i, i + 4, "DATE", d.isoformat()
                i += 4
                continue
        # vague counts: "a few weeks" / "several months" / "the past few
        # days" → PX<unit> (SUTime's inexact-duration values)
        if w in ("few", "several", "many") and i + 1 < n \
                and (lower[i + 1] in _UNIT
                     or lower[i + 1] in ("decades", "centuries")):
            s0 = i
            if i > 0 and lower[i - 1] in ("a", "the", "past", "next",
                                          "coming", "last"):
                s0 = i - 1
                if s0 > 0 and lower[s0 - 1] == "the":
                    s0 -= 1
            # "a few decades" → PXY (SUTimeITest.java:90 — decade-scale
            # vagueness renders at year granularity)
            u = _UNIT.get(lower[i + 1], "Y")
            yield s0, i + 2, "DURATION", f"PX{u}"
            i += 2
            continue
        # "recent weeks" → PXW (SUTimeITest.java:92 inexact durations)
        if w == "recent" and i + 1 < n and (lower[i + 1] in _UNIT
                                            or lower[i + 1] in ("decades",
                                                                "centuries")):
            u = _UNIT.get(lower[i + 1], "Y")
            yield i, i + 2, "DURATION", f"PX{u}"
            i += 2
            continue
        # "half an hour" → PT30M (english.sutime.txt fraction durations)
        if (w == "half" and i + 2 < n and lower[i + 1] in ("a", "an")
                and lower[i + 2] in ("hour", "day")):
            val = "PT30M" if lower[i + 2] == "hour" else "PT12H"
            yield i, i + 3, "DURATION", val
            i += 3
            continue
        # written clock times (english.sutime.txt relative-clock rules;
        # SUTimeITest testSUTimeTime): "ten minutes to three" → T02:50,
        # "quarter to twelve" → T11:45, "half past noon" → T12:30,
        # "twenty after twelve" → T12:20, "3 to 4 p.m" → T15:57
        wc = _written_clock(words, lower, i)
        if wc is not None:
            end, val = wc
            yield i, end, "TIME", val
            i = end
            continue
        # "<hour> o'clock [in the morning/afternoon/evening]" → T<hh>:00;
        # "eleven in the morning" / "three in the morning" → hour + TOD
        oc = _oclock(words, lower, i)
        if oc is not None:
            end, val, plus = oc
            if plus:  # "12 at night" rolls into the next day's midnight
                val = (docdate
                       + datetime.timedelta(days=plus)).isoformat() + val
            yield i, end, "TIME", val
            i = end
            continue
        # explicit clock / ISO-datetime token + timezone name → the zone's
        # RFC-822 offset joins the value ("2:14:12 MSK" → T02:14:12+0300,
        # "2004-03-04T18:32:56 Pacific Standard Time" → …-0800); force=True
        # because the CRF tags all-caps zone tokens as ORGANIZATION
        m_clk = iso_t = None
        if w[:1].isdigit():  # cheap gate before the per-token regexes
            if ":" in w:
                m_clk = _RX_CLOCK.match(w)
            if len(w) > 11 and w[10] == "t":
                iso_t = _RX_ISO_T.match(words[i])
        if m_clk or iso_t:
            tzs = _tz_suffix(words, lower, i + 1)
            if tzs is not None:
                if m_clk:
                    val = f"T{int(m_clk.group(1)):02d}:{m_clk.group(2)}" + (
                        f":{m_clk.group(3)}" if m_clk.group(3) else "")
                else:
                    val = words[i]
                yield i, tzs[0], "TIME", val + tzs[1], True
                i = tzs[0]
                continue
        # military clock: "1800 hours" → T18:00 (SUTimeITest
        # testSUTimeDateTime:1050) — outranks the PT1800H duration read
        if (len(w) == 4 and w.isdigit() and i + 1 < n
                and lower[i + 1] == "hours" and int(w[:2]) < 24
                and int(w[2:]) < 60):
            yield i, i + 2, "TIME", f"T{w[:2]}:{w[2:]}"
            i += 2
            continue
        # clock hour + meridiem: "7 pm" → T19:00; a trailing zone joins
        # the span and appends its RFC-822 offset when the zone table
        # knows it ("8:43 PST" → T08:43-0800; unknown zones stay
        # offset-free)
        if (w.isdigit() and 1 <= int(w) <= 12 and i + 1 < n
                and lower[i + 1] in ("pm", "p.m.", "am", "a.m.")):
            hh = int(w) % 12 + (12 if lower[i + 1].startswith("p") else 0)
            end = i + 2
            tzs = _tz_suffix(words, lower, end)
            if tzs is not None:
                # authoritative: the CRF tags bare all-caps zone tokens as
                # ORGANIZATION; the clock context is decisive
                yield i, tzs[0], "TIME", f"T{hh:02d}:00{tzs[1]}", True
                i = tzs[0]
                continue
            yield i, end, "TIME", f"T{hh:02d}:00"
            i = end
            continue
        # weekends: "next weekend" → ISO week + -WE (SUTime week-part value)
        if (w in ("last", "next", "this") and i + 1 < n
                and lower[i + 1] == "weekend"):
            off = {"last": -1, "next": 1, "this": 0}[w]
            d = docdate + datetime.timedelta(weeks=off)
            iso = d.isocalendar()
            yield i, i + 2, "DATE", f"{iso[0]}-W{iso[1]:02d}-WE"
            i += 2
            continue
        # bare "the weekend" / "over the weekend" → the docdate's week-WE
        # (same week-part value as the deictic forms above)
        if (w == "weekend" and i > 0 and lower[i - 1] in ("the", "a")):
            iso = docdate.isocalendar()
            yield i, i + 1, "DATE", f"{iso[0]}-W{iso[1]:02d}-WE"
            i += 1
            continue
        # centuries: "the 19th century" → 18XX (SUTime century-of-era
        # values render as the two leading digits + XX)
        m_cent = _RX_ORD_DIGIT.match(w)
        if m_cent and i + 1 < n and lower[i + 1] in ("century", "century."):
            c = int(m_cent.group(1))
            if 1 <= c <= 21:
                # "5th century B.C." → -04XX (SUTimeITest testSUTimeDate)
                if i + 2 < n and lower[i + 2] in ("bc", "b.c.", "bce",
                                                  "b.c.e."):
                    yield i, i + 3, "DATE", f"-{c - 1:02d}XX"
                    i += 3
                    continue
                yield i, i + 2, "DATE", f"{c - 1:02d}XX"
                i += 2
                continue
        # ISO weeks: "week 12" / "week 12 of 2020" → 2020-W12
        if (w == "week" and i + 1 < n and words[i + 1].isdigit()
                and 1 <= int(words[i + 1]) <= 53):
            wk = int(words[i + 1])
            year = docdate.year
            end = i + 2
            if (i + 3 < n and lower[i + 2] == "of"
                    and _RX_YEAR_ANY.match(words[i + 3])):
                year = int(words[i + 3])
                end = i + 4
            yield i, end, "DATE", f"{year}-W{wk:02d}"
            i = end
            continue
        # fortnight: "a fortnight ago" → docdate − 14 d; bare → P2W
        if w == "fortnight":
            if i + 1 < n and lower[i + 1] == "ago":
                d = docdate - datetime.timedelta(days=14)
                s0 = i - 1 if i > 0 and lower[i - 1] in ("a", "the") else i
                yield s0, i + 2, "DATE", d.isoformat()
                i += 2
                continue
            s0 = i - 1 if i > 0 and lower[i - 1] in ("a", "the") else i
            yield s0, i + 1, "DURATION", "P2W"
            i += 1
            continue
        # decade/century offsets: "a decade ago" → 2010 (year-granularity
        # resolution of the coarse offset; SUTime RelativeTime over
        # DECADE/CENTURY units)
        if (w in ("decade", "decades", "century", "centuries")
                and i + 1 < n and lower[i + 1] == "ago"):
            scale = 10 if w.startswith("decade") else 100
            k = 1
            if i > 0 and lower[i - 1] in NUMBER_WORDS:
                k = NUMBER_WORDS[lower[i - 1]]
            elif i > 0 and words[i - 1].isdigit():
                k = int(words[i - 1])
            s0 = i - 1 if i > 0 and (lower[i - 1] in ("a", "the")
                                     or lower[i - 1] in NUMBER_WORDS
                                     or words[i - 1].isdigit()) else i
            yield s0, i + 2, "DATE", str(docdate.year - scale * k)
            i += 2
            continue
        # seasons: "summer of 1969" / "the winter" → <year>-SU / -WI —
        # context-gated ("prices fall" / "spring to action" must not fire:
        # SUTime's season rules are similarly determiner/PP-gated)
        if w in _SEASONS:
            has_of_year = (i + 2 < n and lower[i + 1] == "of"
                           and words[i + 2].isdigit()
                           and len(words[i + 2]) == 4)
            det_before = i > 0 and lower[i - 1] in (
                "the", "this", "last", "next", "during", "in", "every")
            if has_of_year or det_before:
                year = docdate.year
                end = i + 1
                if has_of_year:
                    year = int(words[i + 2])
                    end = i + 3
                yield i, end, "DATE", f"{year}-{_SEASONS[w]}"
                i = end
                continue
        if w == "tonight":
            yield i, i + 1, "TIME", docdate.isoformat() + "TNI"
            i += 1
            continue
        if w == "noon":
            yield i, i + 1, "TIME", docdate.isoformat() + "T12:00"
            i += 1
            continue
        if w == "midnight":
            yield i, i + 1, "TIME", docdate.isoformat() + "T00:00"
            i += 1
            continue
        if w == "today":
            yield i, i + 1, "DATE", docdate.isoformat()
            i += 1
            continue
        if w == "yesterday":
            yield i, i + 1, "DATE", (docdate - datetime.timedelta(days=1)).isoformat()
            i += 1
            continue
        if w == "tomorrow":
            yield i, i + 1, "DATE", (docdate + datetime.timedelta(days=1)).isoformat()
            i += 1
            continue
        if w in ("last", "next", "this") and i + 1 < n and lower[i + 1] in _UNIT:
            unit = _UNIT[lower[i + 1]]
            sign = -1 if w == "last" else (1 if w == "next" else 0)
            if unit == "D":
                d = docdate + datetime.timedelta(days=sign)
                val = d.isoformat()
            elif unit == "W":
                d = docdate + datetime.timedelta(weeks=sign)
                val = f"{d.isocalendar()[0]}-W{d.isocalendar()[1]:02d}"
            elif unit == "M":
                m = docdate.month - 1 + sign
                val = f"{docdate.year + m // 12}-{m % 12 + 1:02d}"
            else:
                val = str(docdate.year + sign)
            yield i, i + 2, "DATE", val
            i += 2
            continue
        # nested compounds: "the week before last" / "the week after next"
        # (SUTime RelativeTime composition, time/SUTime.java) — ISO-week
        # arithmetic two steps from the docdate week
        if (w == "the" and i + 3 < n and lower[i + 1] in _UNIT
                and lower[i + 2] in ("before", "after")
                and lower[i + 3] in ("last", "next")):
            sign = -2 if lower[i + 2] == "before" else 2
            unit = _UNIT[lower[i + 1]]
            yield i, i + 4, "DATE", _unit_offset(docdate, unit, sign)
            i += 4
            continue
        # "last March" / "next March" / "this March" → nearest year-month
        if w in ("last", "next", "this") and i + 1 < n and lower[i + 1] in _MONTHS:
            m = _MONTHS[lower[i + 1]]
            if w == "this":
                year = docdate.year
            elif w == "next":
                year = docdate.year + 1 if m <= docdate.month else docdate.year
            else:
                year = docdate.year if m < docdate.month else docdate.year - 1
            yield i, i + 2, "DATE", f"{year}-{m:02d}"
            i += 2
            continue
        # hyphenated duration adjectives: "3-year" → P3Y, "four-month
        # old" → P4M (span absorbs the "old"), "22-year old" → P22Y
        # (SUTimeITest.java:76-77,229)
        m_hd = _RE_HYPHDUR.match(w)
        if m_hd:
            numpart = m_hd.group(1)
            hq = (int(numpart) if numpart.isdigit()
                  else NUMBER_WORDS.get(numpart))
            if hq is not None:
                us = m_hd.group(2)
                val = (f"PT{hq}{_TUNIT[us]}" if us in _TUNIT
                       else f"P{hq}{_UNIT[us]}")
                end = i + 1
                if end < n and lower[end] == "old":
                    end += 1
                yield i, end, "DURATION", val
                i = end
                continue
        # ordinal streaks: "the fifth straight year" → P5Y, "the third
        # straight month in a row" → P3M, "the ninth day consecutively" →
        # P9D (SUTimeITest.java:81-93 InexactDuration streak rules)
        nth_q = _ORD_WORDS.get(w)
        if nth_q is None:
            m_on = _RX_ORD_ANY.match(w)
            if m_on:
                nth_q = int(m_on.group(1))
        if nth_q is not None:
            j = i + 1
            streak = j < n and lower[j] in ("straight", "consecutive")
            if streak:
                j += 1
            if j < n and lower[j] in _UNIT:
                end = j + 1
                if end < n and lower[end] == "consecutively":
                    streak, end = True, end + 1
                elif (end + 2 < n and lower[end] == "in"
                      and lower[end + 1] == "a" and lower[end + 2] == "row"):
                    streak, end = True, end + 3
                if streak:
                    s0 = i - 1 if i > 0 and lower[i - 1] == "the" else i
                    yield s0, end, "DURATION", f"P{nth_q}{_UNIT[lower[j]]}"
                    i = end
                    continue
        # decade/century duration units: "a decade" → P10Y, "two
        # centuries" → P200Y (SUTimeITest.java:89; the "ago" offset forms
        # are resolved to a DATE by the earlier rule)
        if (w in ("decade", "decades", "century", "centuries")
                and not (i + 1 < n and lower[i + 1] == "ago")):
            scale = 10 if w.startswith("decade") else 100
            k0, s0 = 1, i
            if i > 0 and lower[i - 1] in ("a", "an"):
                s0 = i - 1
            elif i > 0 and words[i - 1].isascii() and words[i - 1].isdigit():
                k0, s0 = int(words[i - 1]), i - 1
            elif i > 0 and lower[i - 1] in _NUM_SCALES:
                # "hundred decades" → P1000Y (SUTimeITest.java:91 — the
                # bare scale word counts as 100)
                k0, s0 = _NUM_SCALES[lower[i - 1]], i - 1
            yield s0, i + 1, "DURATION", f"P{k0 * scale}Y"
            i += 1
            continue
        # compound written-number durations: "twenty four years" → P24Y,
        # "five hundred and twelve days" → P512D, "hundred decades" →
        # P1000Y (SUTimeITest.java:99,171,117; reuses the numeric
        # normalizer's written-number parser). A bare "and" between two
        # unit words without a scale word ("six and three months") is NOT
        # a compound — only "three months" is a duration there.
        span = None
        if _unit_value(w) is not None or w in _NUM_SCALES:
            span = _word_number_span(words, i)
        if span is not None:
            k, sval = span
            consumed = [x.lower() for x in words[i:k]]
            bad_and = ("and" in consumed
                       and not any(c in _NUM_SCALES for c in consumed))
            iv = int(sval)
            if not bad_and and iv == sval and iv > 0:
                if k < n and lower[k] in ("decade", "decades") and k - i >= 1 \
                        and not (k + 1 < n and lower[k + 1] == "ago"):
                    yield i, k + 1, "DURATION", f"P{iv * 10}Y"
                    i = k + 1
                    continue
                if k < n and lower[k] in ("century", "centuries") \
                        and k - i >= 1 \
                        and not (k + 1 < n and lower[k + 1] == "ago"):
                    yield i, k + 1, "DURATION", f"P{iv * 100}Y"
                    i = k + 1
                    continue
                # k-i==1 only for tens/teens words the single-word qty
                # branch below cannot parse ("twenty minutes" → PT20M);
                # 1-10 words keep their original path (identical spans)
                if k < n and lower[k] in _UNIT \
                        and (k - i >= 2 or w not in NUMBER_WORDS):
                    unit = _UNIT[lower[k]]
                    if k + 1 < n and lower[k + 1] == "ago":
                        yield i, k + 2, "DATE", _unit_offset(docdate, unit,
                                                             -iv)
                        i = k + 2
                        continue
                    yield i, k + 1, "DURATION", f"P{iv}{unit}"
                    i = k + 1
                    continue
                if k < n and lower[k] in _TUNIT \
                        and (k - i >= 2 or w not in NUMBER_WORDS):
                    yield i, k + 1, "DURATION", f"PT{iv}{_TUNIT[lower[k]]}"
                    i = k + 1
                    continue
        # durations: "<number|numword> <unit>" → ISO-8601 P<n><U>
        qty = None
        if w in NUMBER_WORDS:
            qty = NUMBER_WORDS[w]
        elif w.isascii() and w.isdigit():
            qty = int(w)
        elif w in ("a", "an") and i + 1 < n and lower[i + 1] in _UNIT:
            qty = 1  # "a week ago" / "in an hour" — article-as-one
        # duration ranges: "2-3 weeks" (one NUMRANGE token) and
        # "two to three weeks" → interval-of-durations "P2W/P3W"
        # (SUTime range types over durations, time/SUTime.java)
        mrange = _RX_NUMRANGE.match(w)
        if mrange and i + 1 < n and lower[i + 1] in _UNIT:
            unit = _UNIT[lower[i + 1]]
            yield (i, i + 2, "DURATION",
                   f"P{mrange.group(1)}{unit}/P{mrange.group(2)}{unit}")
            i += 2
            continue
        if qty is not None and i + 2 < n and lower[i + 1] == "to" \
                and (lower[i + 2] in NUMBER_WORDS
                     or (lower[i + 2].isascii() and lower[i + 2].isdigit())) \
                and i + 3 < n and lower[i + 3] in _UNIT:
            q2 = NUMBER_WORDS.get(lower[i + 2]) or int(lower[i + 2])
            unit = _UNIT[lower[i + 3]]
            yield i, i + 4, "DURATION", f"P{qty}{unit}/P{q2}{unit}"
            i += 4
            continue
        # sub-day durations: "three hours" → PT3H, "45 minutes" → PT45M
        # (no date resolution — the docdate carries no time-of-day anchor)
        if qty is not None and i + 1 < n and lower[i + 1] in _TUNIT \
                and not (lower[i + 1] in ("second", "seconds")
                         and i + 2 < n and lower[i + 2] in ("quarter",
                                                            "half")):
            # "The 1997 second quarter" is an ordinal quarter, not 1997
            # seconds (SUTimeITest testSUTimeDate)
            yield i, i + 2, "DURATION", f"PT{qty}{_TUNIT[lower[i + 1]]}"
            i += 2
            continue
        if qty is not None and i + 1 < n and lower[i + 1] in _UNIT:
            unit = _UNIT[lower[i + 1]]
            # offset resolution: "<n> weeks ago" resolves against the
            # docdate; "in <n> weeks" resolves ONLY for the article forms
            # ("in a month") — numeric counts stay durations, matching the
            # reference ("The book was completed in four years." → P4Y,
            # SUTimeITest testSUTimeDurations)
            if i + 2 < n and lower[i + 2] == "ago":
                yield i, i + 3, "DATE", _unit_offset(docdate, unit, -qty)
                i += 3
                continue
            if i > 0 and lower[i - 1] == "in" and lower[i] in ("a", "an"):
                yield i - 1, i + 2, "DATE", _unit_offset(docdate, unit, qty)
                i += 2
                continue
            yield i, i + 2, "DURATION", f"P{qty}{unit}"
            i += 2
            continue
        i += 1


def _mark_ranges(toks: list[dict], lower: list[str]) -> None:
    """Temporal ranges: "from <DATE|TIME> to <DATE|TIME>" / "between <X>
    and <X>" → ISO-8601 interval value "v1/v2" over the whole span (the
    TIMEX3 beginPoint/endPoint pair SUTime emits for ranges). Both sides
    must carry the SAME class ("from 5 pm to 7 pm" → T17:00/T19:00 TIME;
    dates as before)."""
    n = len(toks)

    def run_of(k, cls):
        if k >= n or toks[k].get("ner") != cls:
            return None
        e = k
        while e < n and toks[e].get("ner") == cls:
            e += 1
        return k, e

    for i in range(n):
        pairs = {"from": "to", "between": "and"}
        if lower[i] not in pairs:
            continue
        for cls in ("DATE", "TIME"):
            r1 = run_of(i + 1, cls)
            if r1 is None:
                continue
            mid = r1[1]
            if mid >= n or lower[mid] != pairs[lower[i]]:
                continue
            r2 = run_of(mid + 1, cls)
            if r2 is None:
                continue
            v1 = toks[r1[0]].get("nner") or ""
            v2 = toks[r2[0]].get("nner") or ""
            if not v1 or not v2 or "/" in v1 or "/" in v2:
                continue
            val = f"{v1}/{v2}"
            for k in range(r1[0], r2[1]):
                toks[k]["ner"], toks[k]["nner"] = cls, val
            break


_MOD_PREFIX: dict[tuple[str, ...], tuple[str, str]] = {
    # phrase → (TIMEX3 mod, applies-to: 'dur' | 'date' | 'any');
    # english.sutime.txt mod rules re-expressed with the TIMEX3-standard
    # mod vocabulary (time/SUTime.java TimexMod)
    ("about",): ("APPROX", "any"),
    ("around",): ("APPROX", "any"),
    ("approximately",): ("APPROX", "any"),
    ("roughly",): ("APPROX", "any"),
    ("nearly",): ("APPROX", "dur"),
    ("almost",): ("APPROX", "dur"),
    ("no", "more", "than"): ("EQUAL_OR_LESS", "dur"),
    ("no", "less", "than"): ("EQUAL_OR_MORE", "dur"),
    ("no", "fewer", "than"): ("EQUAL_OR_MORE", "dur"),
    ("more", "than"): ("MORE_THAN", "dur"),
    ("over",): ("MORE_THAN", "dur"),
    ("less", "than"): ("LESS_THAN", "dur"),
    ("under",): ("LESS_THAN", "dur"),
    ("at", "least"): ("EQUAL_OR_MORE", "dur"),
    ("at", "most"): ("EQUAL_OR_LESS", "dur"),
    ("up", "to"): ("EQUAL_OR_LESS", "dur"),
    # english.sutime.txt:190-195: early/beginning → EARLY, late/end →
    # LATE, mid/middle → MID (the GUTIME mod values, not START/END)
    ("early",): ("EARLY", "date"),
    ("beginning",): ("EARLY", "date"),
    ("mid",): ("MID", "date"),
    ("middle",): ("MID", "date"),
    ("late",): ("LATE", "date"),
}


#: longest phrase first so "no more than" (EQUAL_OR_LESS) claims the span
#: before its "more than" suffix would stamp MORE_THAN; ties lexical
_MOD_ORDERED = sorted(_MOD_PREFIX.items(), key=lambda kv: (-len(kv[0]), kv[0]))


def _mark_mods(toks: list[dict], lower: list[str]) -> None:
    """TIMEX3 mod attributes: a mod phrase immediately before a temporal
    run extends the span and appends ``|MOD`` to the value string ("about
    three weeks" → P3W|APPROX, "early 2015" → 2015|EARLY, "more than two
    years" → P2Y|MORE_THAN). The value stays a string (SURVEY §1.1); the
    pipe-suffix is this engine's serialization of the separate TIMEX3
    ``mod`` XML attribute the reference emits."""
    n = len(toks)
    # longest phrase first so "no more than" (EQUAL_OR_LESS) claims the
    # span before its "more than" suffix would stamp MORE_THAN
    # (SUTimeITest.java:83-85); ties broken lexically for determinism
    for phrase, (mod, applies) in _MOD_ORDERED:
        L = len(phrase)
        for i in range(n - L):
            if tuple(lower[i:i + L]) != phrase:
                continue
            j = i + L
            ner = toks[j].get("ner") if j < n else None
            if ner not in ("DATE", "TIME", "DURATION"):
                continue
            is_dur = str(toks[j].get("nner", "")).startswith("P")
            if applies == "dur" and not is_dur:
                continue
            if applies == "date" and (is_dur or ner not in ("DATE", "TIME")):
                continue
            val = str(toks[j].get("nner", ""))
            if not val or "|" in val or val.endswith("_REF"):
                continue
            e = j
            while e < n and toks[e].get("ner") == ner and toks[e].get("nner") == toks[j].get("nner"):
                e += 1
            newval = f"{val}|{mod}"
            for k in range(i, e):
                toks[k]["ner"], toks[k]["nner"] = ner, newval


_RE_V_DAY = _re.compile(r"^\d{4}-\d\d-\d\d$")
_RE_V_MONTHPART = _re.compile(r"^(XXXX|\d{4})-(\d\d)$")
_RE_V_MD = _re.compile(r"^XXXX-(\d\d)(-\d\d)?$")
_RE_V_WEEK = _re.compile(r"^(\d{4})-W(\d\d)$")
_RE_V_YEAR = _re.compile(r"^\d{4}$")
_RE_V_CLOCK = _re.compile(r"^T\d\d:\d\d(:\d\d)?([+-]\d{4})?$")

_WK_ABBREV = {"mon", "tue", "tues", "wed", "thu", "thur", "thurs", "fri",
              "sat", "sun", "mon.", "tue.", "wed.", "thu.", "fri.", "sat.",
              "sun."}
_WK_FILLER = {"last", "next", "this", "the"}
_TODC = {"morning": "TMO", "afternoon": "TAF", "evening": "TEV",
         "night": "TNI"}


def _temporal_spans(toks):
    """Maximal runs of identical (ner, nner) for temporal classes."""
    spans = []
    i = 0
    n = len(toks)
    while i < n:
        ner = toks[i].get("ner")
        val = str(toks[i].get("nner", ""))
        if ner in ("DATE", "TIME", "DURATION", "SET") and val:
            j = i
            while j < n and toks[j].get("ner") == ner \
                    and str(toks[j].get("nner", "")) == val:
                j += 1
            spans.append([i, j, ner, val])
            i = j
        else:
            i += 1
    return spans


def _is_weekday_span(toks, lower, s, e, val):
    return (toks[s].get("ner") == "DATE" and _RE_V_DAY.match(val)
            and all(lw in _WEEKDAYS or lw in _WK_ABBREV or lw in _WK_FILLER
                    for lw in lower[s:e]))


def _is_explicit_date_span(words, lower, s, e):
    """Contains a month word / digits — i.e. not weekday-derived."""
    from corenlp_spark.operators.ner import _month_of

    return any(_month_of(words[k]) is not None or any(c.isdigit()
               for c in words[k]) for k in range(s, e))


def _compose_anchor(toks: list[dict], lower: list[str], words: list[str],
                    docdate: datetime.date) -> None:
    """Fuse adjacent temporal spans and anchor partials against the
    docdate (time/SUTime.java TemporalCompose INTERSECT + PartialTime
    resolve; SUTimeITest testSUTime2/testSUTimeDateTime/testOverlaps):

    - weekday ⊕ explicit date → the explicit date ("Friday, October 1,
      1999" → 1999-10-01; "Sun Apr 21" absorbs the abbreviation)
    - weekday ⊕ "the Nth" → day-of-docdate-month ("Tuesday the 14th")
    - weekday ⊕ ISO week → that week's weekday ("Saturday last week")
    - month partial ⊕ year → year-month ("October of 1963", "August
      last year")
    - ordinal ⊕ day/week/month ⊕ container ("4th day last week", "3rd
      month next year", "the third week of April")
    - duration ⊕ from/before/after ⊕ date → shifted date ("two weeks
      from next Tuesday"); "<n> <unit> ago" chains re-resolve at day
      granularity ("1 year ago tomorrow", "3 months ago Saturday")
    - date ⊕ clock/TOD → datetime ("Friday at 8:00 pm" →
      XXXX-…T20:00; "Saturday night" → …TNI)
    - year ⊕ 's ⊕ season ("This year's summer" → 1999-SU)
    - finally: XXXX month-days take the docdate year; bare clock times
      take the docdate (reference PartialTime.resolve default fill)
    """
    n = len(toks)

    def stamp(a, b, ner, val):
        for k in range(a, b):
            toks[k]["ner"], toks[k]["nner"] = ner, val

    def num_before_unit(s, e):
        """Parse '<k> <unit> ago' tokens → (k, unit) or None."""
        if e - s < 2 or lower[e - 1] != "ago":
            return None
        uw = lower[e - 2]
        unit = _UNIT.get(uw)
        if unit is None:
            return None
        k = 1
        if e - s >= 3:
            t0 = lower[s]
            if t0.isdigit():
                k = int(t0)
            elif t0 in NUMBER_WORDS:
                k = NUMBER_WORDS[t0]
        return k, unit

    def shifted(day: datetime.date, unit: str, k: int) -> datetime.date:
        if unit == "D":
            return day + datetime.timedelta(days=k)
        if unit == "W":
            return day + datetime.timedelta(weeks=k)
        if unit == "M":
            return _shift_months(day, k)
        return datetime.date(day.year + k, day.month,
                             min(day.day, 28) if (day.month == 2 and
                                                  day.day == 29) else day.day)

    for _pass in range(5):
        changed = False
        spans = _temporal_spans(toks)
        for si, (s, e, ner, val) in enumerate(spans):
            nxt = spans[si + 1] if si + 1 < len(spans) else None
            gap = lower[e:nxt[0]] if nxt else None

            # weekday ⊕ explicit date (either side, "," connector)
            if nxt and gap in ([], [","]):
                s2, e2, ner2, val2 = nxt
                wk_l = _is_weekday_span(toks, lower, s, e, val)
                wk_r = _is_weekday_span(toks, lower, s2, e2, val2)
                ex_l = ner == "DATE" and not wk_l and \
                    _is_explicit_date_span(words, lower, s, e) and \
                    (_RE_V_DAY.match(val) or _RE_V_MD.match(val))
                ex_r = ner2 == "DATE" and not wk_r and \
                    _is_explicit_date_span(words, lower, s2, e2) and \
                    (_RE_V_DAY.match(val2) or _RE_V_MD.match(val2))
                if wk_l and ex_r:
                    stamp(s, e2, "DATE", val2)
                    changed = True
                    break
                if ex_l and wk_r:
                    stamp(s, e2, "DATE", val)
                    changed = True
                    break

            # bare abbreviated-weekday token absorbed into an explicit date
            if ner == "DATE" and (_RE_V_DAY.match(val)
                                  or _RE_V_MD.match(val)) \
                    and _is_explicit_date_span(words, lower, s, e):
                if s > 0 and toks[s - 1].get("ner", "O") == "O" \
                        and lower[s - 1] in (_WK_ABBREV | set(_WEEKDAYS)):
                    stamp(s - 1, e, "DATE", val)
                    changed = True
                    break
                if e < n and toks[e].get("ner", "O") == "O" \
                        and lower[e] in (_WK_ABBREV | set(_WEEKDAYS)):
                    stamp(s, e + 1, "DATE", val)
                    changed = True
                    break

            # weekday ⊕ "the Nth" → day of the docdate's month
            if _is_weekday_span(toks, lower, s, e, val) and e + 1 < n \
                    and lower[e] == "the" \
                    and toks[e + 1].get("ner") == "ORDINAL":
                day = int(float(toks[e + 1]["nner"]))
                if 1 <= day <= 31:
                    stamp(s, e + 2, "DATE",
                          f"{docdate.year}-{docdate.month:02d}-{day:02d}")
                    changed = True
                    break

            # weekday ⊕ ISO-week span → that week's weekday
            if nxt and gap == [] and _is_weekday_span(toks, lower, s, e, val):
                mw = _RE_V_WEEK.match(nxt[3])
                if mw and nxt[2] == "DATE":
                    dow = datetime.date.fromisoformat(val).isoweekday()
                    d = datetime.date.fromisocalendar(
                        int(mw.group(1)), int(mw.group(2)), dow)
                    stamp(s, nxt[1], "DATE", d.isoformat())
                    changed = True
                    break

            # month partial ⊕ [of/in/,] ⊕ year span → year-month
            if nxt and ner == "DATE" and nxt[2] == "DATE" \
                    and gap in ([], ["of"], ["in"], [","]):
                mm_ = _RE_V_MONTHPART.match(val)
                if mm_ and mm_.group(1) == "XXXX" \
                        and _RE_V_YEAR.match(nxt[3]):
                    stamp(s, nxt[1], "DATE", f"{nxt[3]}-{mm_.group(2)}")
                    changed = True
                    break

            # ordinal ⊕ day/month ⊕ container span
            if toks[s].get("ner") == "ORDINAL" and s == e - 1:
                pass  # ordinals are single tokens; handled via scan below

            # duration ⊕ from/before/after ⊕ resolved day
            if nxt and ner == "DURATION" and nxt[2] == "DATE" \
                    and gap in (["from"], ["before"], ["after"]) \
                    and _RE_V_DAY.match(nxt[3]):
                md = _re.match(r"^P(\d+)([DWMY])$", val)
                if md:
                    k = int(md.group(1))
                    if gap == ["before"]:
                        k = -k
                    d = shifted(datetime.date.fromisoformat(nxt[3]),
                                md.group(2), k)
                    stamp(s, nxt[1], "DATE", d.isoformat())
                    changed = True
                    break

            # "<n> <unit> ago" ⊕ date/weekday → re-resolve at day grain
            if nxt and ner == "DATE" and nxt[2] == "DATE" and gap == []:
                ago = num_before_unit(s, e)
                if ago is not None:
                    k, unit = ago
                    if _RE_V_DAY.match(nxt[3]) and not \
                            _is_weekday_span(toks, lower, nxt[0], nxt[1],
                                             nxt[3]):
                        d = shifted(datetime.date.fromisoformat(nxt[3]),
                                    unit, -k)
                        stamp(s, nxt[1], "DATE", d.isoformat())
                        changed = True
                        break
                    if _is_weekday_span(toks, lower, nxt[0], nxt[1], nxt[3]):
                        d = shifted(docdate, unit, -k)
                        stamp(s, nxt[1], "DATE", d.isoformat())
                        changed = True
                        break

            # resolved day ⊕ [at/on/,] ⊕ clock time (either order)
            if nxt and gap in ([], ["at"], ["on"], [","]):
                s2, e2, ner2, val2 = nxt
                d_l = ner == "DATE" and _RE_V_DAY.match(val)
                d_r = ner2 == "DATE" and _RE_V_DAY.match(val2)
                t_l = ner == "TIME" and "T" in val and "/" not in val \
                    and "|" not in val
                t_r = ner2 == "TIME" and "T" in val2 and "/" not in val2 \
                    and "|" not in val2
                if d_l and t_r:
                    stamp(s, e2, "TIME", val + "T" + val2.split("T", 1)[1])
                    changed = True
                    break
                if t_l and d_r:
                    stamp(s, e2, "TIME", val2 + "T" + val.split("T", 1)[1])
                    changed = True
                    break

            # ISO datetime ⊕ +/− ⊕ 4-digit offset ("2004-03-04T18:32:56
            # +1600" — the tokenizer splits the sign off)
            if ner == "TIME" and "T" in val and "/" not in val \
                    and "|" not in val and e + 1 < n \
                    and words[e] in ("+", "-", "−") \
                    and _re.match(r"^\d{4}$", words[e + 1]):
                sign = "+" if words[e] == "+" else "-"
                stamp(s, e + 2, "TIME", f"{val}{sign}{words[e + 1]}")
                changed = True
                break

            # clock time ⊕ on/at ⊕ bare abbreviated weekday ("quarter to
            # twelve on Wed" — full names resolve to DATE spans upstream)
            if ner == "TIME" and "T" in val and "/" not in val \
                    and "|" not in val:
                j = e + 1 if e < n and lower[e] in ("on", "at") else e
                if j < n and toks[j].get("ner", "O") == "O" \
                        and lower[j] in _WK_ABBREV:
                    base = lower[j].rstrip(".")
                    full = next(d for d in _WEEKDAYS
                                if d.startswith(base[:3]))
                    monday = docdate - datetime.timedelta(
                        days=docdate.weekday())
                    d = monday + datetime.timedelta(days=_WEEKDAYS[full])
                    stamp(s, j + 1, "TIME",
                          d.isoformat() + "T" + val.split("T", 1)[1])
                    changed = True
                    break

            # resolved day ⊕ bare time-of-day word → date+TOD
            if ner == "DATE" and _RE_V_DAY.match(val) and e < n \
                    and toks[e].get("ner", "O") == "O" \
                    and lower[e] in _TODC:
                stamp(s, e + 1, "TIME", val + _TODC[lower[e]])
                changed = True
                break

            # year ⊕ 's ⊕ season → year-season
            if ner == "DATE" and _RE_V_YEAR.match(val) and e + 1 < n \
                    and lower[e] in ("'s", "’s") and lower[e + 1] in _SEASONS:
                stamp(s, e + 2, "DATE", f"{val}-{_SEASONS[lower[e + 1]]}")
                changed = True
                break

        if changed:
            continue

        # ordinal + day/week/month + container (one scan; containers are
        # spans so this lives outside the pairwise loop)
        for s, e, ner, val in spans:
            # "<ord> day|month" immediately before this container span
            if s >= 2 and toks[s - 2].get("ner") == "ORDINAL":
                k = int(float(toks[s - 2]["nner"]))
                unit_w = lower[s - 1]
                mw = _RE_V_WEEK.match(val)
                if unit_w == "day" and mw and 1 <= k <= 7:
                    d = datetime.date.fromisocalendar(
                        int(mw.group(1)), int(mw.group(2)), k)
                    a = s - 3 if s >= 3 and lower[s - 3] == "the" else s - 2
                    stamp(a, e, "DATE", d.isoformat())
                    changed = True
                    break
                if unit_w == "month" and _RE_V_YEAR.match(val) \
                        and 1 <= k <= 12:
                    a = s - 3 if s >= 3 and lower[s - 3] == "the" else s - 2
                    stamp(a, e, "DATE", f"{val}-{k:02d}")
                    changed = True
                    break
            # "<ord> week of <month-partial>" → nth ISO week of the month
            if s >= 3 and toks[s - 3].get("ner") == "ORDINAL" \
                    and lower[s - 2] == "week" and lower[s - 1] in ("of", "in"):
                mm_ = _RE_V_MONTHPART.match(val)
                if mm_:
                    k = int(float(toks[s - 3]["nner"]))
                    year = (docdate.year if mm_.group(1) == "XXXX"
                            else int(mm_.group(1)))
                    first = datetime.date(year, int(mm_.group(2)), 1)
                    iy, iw, _ = first.isocalendar()
                    wk = iw + k - 1
                    a = s - 4 if s >= 4 and lower[s - 4] == "the" else s - 3
                    stamp(a, e, "DATE", f"{iy}-W{wk:02d}")
                    changed = True
                    break
        if not changed:
            break

    # final anchoring: fill the docdate year / date into partials
    for s, e, ner, val in _temporal_spans(toks):
        if ner == "DATE":
            md = _RE_V_MD.match(val)
            if md:
                stamp(s, e, "DATE", f"{docdate.year}{val[4:]}")
        elif ner == "TIME" and _RE_V_CLOCK.match(val):
            stamp(s, e, "TIME", docdate.isoformat() + val)


def annotate_tokens(toks: list[dict], docdate: datetime.date) -> None:
    """In-place sutime kernel over one doc's token dicts: resolve →
    ranges → compose/anchor → mods (run by the fused kernel right after NER;
    also the serving/audit path)."""
    words = [t["word"] for t in toks]
    lower = [w.lower() for w in words]
    for item in _resolve(words, lower, docdate):
        s, e, ner, val = item[:4]
        force = len(item) > 4 and item[4]
        # overwrite O/NUMBER tokens, OFFSET placeholders, and
        # DATE tokens being refined into a wider expression
        # ("Q3 2020" absorbs the bare-year DATE); force=True
        # spans (holidays) also outrank statistical NER tags
        if force or all(
            toks[k].get("ner", "O") in ("O", "NUMBER", "ORDINAL",
                                        "DATE")
            or str(toks[k].get("nner", "")).startswith("OFFSET")
            for k in range(s, e)
        ):
            for k in range(s, e):
                toks[k]["ner"], toks[k]["nner"] = ner, val
    _mark_ranges(toks, lower)
    _compose_anchor(toks, lower, words, docdate)
    _mark_mods(toks, lower)
