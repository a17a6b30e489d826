"""SUTime subset + quote/truecase/gender annotator tests."""

import pandas as pd
from pyspark.sql import functions as F

from corenlp_spark.data.synth import DOCS_SCHEMA
from corenlp_spark.operators.aux_annotators import (
    gender_mentions, quote_docs, truecase_docs,
)
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.operators.sutime import with_docdate
from corenlp_spark.plans.fused import annotate


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [f"d{i}" for i in range(len(texts))],
            "spans": [[{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
                      for t in texts],
        }),
        schema=DOCS_SCHEMA,
    )


def _tok_map(row):
    return {t["word"].lower(): (t["ner"], t["nner"]) for t in row["tokens"]}


def test_docdate_deterministic(spark):
    d1 = with_docdate(_docs(spark, ["a", "b"])).collect()
    d2 = with_docdate(_docs(spark, ["a", "b"])).collect()
    assert {r.doc_id: r.docdate for r in d1} == {r.doc_id: r.docdate for r in d2}
    fixed = with_docdate(_docs(spark, ["a"]), fixed="2013-02-21").first()
    assert fixed.docdate == "2013-02-21"


def test_relative_dates_resolve_against_docdate(spark):
    docs = with_docdate(
        _docs(spark, ["He arrived yesterday. She leaves tomorrow. It happened last year."]),
        fixed="2013-02-21",
    )
    out = annotate(docs, upto="ner", sutime=True).first()
    m = _tok_map(out)
    assert m["yesterday"] == ("DATE", "2013-02-20")
    assert m["tomorrow"] == ("DATE", "2013-02-22")
    assert m["year"] == ("DATE", "2012")


def test_durations_and_refs(spark):
    docs = with_docdate(_docs(spark, ["He worked there for three years. He is happy now."]),
                        fixed="2020-06-15")
    out = annotate(docs, upto="ner", sutime=True).first()
    m = _tok_map(out)
    assert m["three"] == ("DURATION", "P3Y")
    assert m["years"] == ("DURATION", "P3Y")
    assert m["now"] == ("DATE", "PRESENT_REF")


def test_new_year_holiday_gate(spark):
    """ADVICE r2: 'a new year of growth' is an ordinary NP, not the Jan-1
    holiday; the capitalized proper noun and the possessive form still fire,
    and 'New Year's Eve' resolves to Dec-31."""
    docs = with_docdate(_docs(spark, [
        "They hope for a new year of growth.",
        "We celebrated New Year in Sydney.",
        "The party is on New Year's Eve.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["new"] == ("O", "") and maps[0]["year"] == ("O", "")
    assert maps[1]["new"] == ("DATE", "2020-01-01")
    assert maps[1]["year"] == ("DATE", "2020-01-01")
    # clitic split renders the possessive as year + 's; the whole span
    # (incl. Eve) carries the Dec-31 value and outranks the CRF's PERSON
    assert maps[2]["eve"] == ("DATE", "2020-12-31")
    assert maps[2]["year"] == ("DATE", "2020-12-31")


def test_sutime_ranges_sets_holidays_weekdays_quarters(spark):
    """SUTime breadth (time/SUTime.java + english.sutime.txt re-expressed):
    ranges, sets, holidays (incl. computed movable feasts), weekday and
    quarter resolution. Docdate 2020-06-15 is a Monday."""
    docs = with_docdate(_docs(spark, [
        "He taught there from 1992 to 2004.",
        "The meeting is every Friday. She exercises daily.",
        "They met on Christmas. Easter was quiet. Thanksgiving came late.",
        "Revenue grew in Q3 2020. The third quarter was strong.",
        "See you on Friday. He left last Friday.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    # range: interval value over the whole from-to span
    assert maps[0]["1992"] == ("DATE", "1992/2004")
    assert maps[0]["2004"] == ("DATE", "1992/2004")
    assert maps[0]["to"] == ("DATE", "1992/2004")
    # sets
    assert maps[1]["every"] == ("SET", "XXXX-WXX-5")
    assert maps[1]["daily"] == ("SET", "P1D")
    # holidays: fixed + computus + 4th-Thursday
    assert maps[2]["christmas"] == ("DATE", "2020-12-25")
    assert maps[2]["easter"] == ("DATE", "2020-04-12")
    assert maps[2]["thanksgiving"] == ("DATE", "2020-11-26")
    # quarters
    assert maps[3]["q3"] == ("DATE", "2020-Q3")
    assert maps[3]["third"] == ("DATE", "2020-Q3")
    # weekdays: same ISO week (2020-06-15 is Monday → Friday = 06-19),
    # "last Friday" a week earlier
    assert maps[4]["friday"][0] == "DATE"
    fr = [t for r in rows[4:5] for t in r["tokens"] if t["word"].lower() == "friday"]
    assert {t["nner"] for t in fr} == {"2020-06-19", "2020-06-12"}


def test_sutime_week_arithmetic_duration_ranges_months(spark):
    """VERDICT r2 #8 (time/SUTime.java week/range types): ISO-week
    arithmetic incl. the nested compound 'the week before last', duration
    ranges ('2-3 weeks' → P2W/P3W), offset resolution ('two weeks ago',
    'in three days'), and last/next <month>. Docdate 2020-06-15 = Monday of
    ISO week 2020-W25."""
    docs = with_docdate(_docs(spark, [
        "It happened the week before last.",
        "She left two weeks ago. He returns in three days.",
        "The trial lasts 2-3 weeks. Recovery takes two to four months.",
        "They met last March. The launch is next March. Sales rose last month.",
        "He left a week ago.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["week"] == ("DATE", "2020-W23")
    assert maps[1]["ago"] == ("DATE", "2020-W23")
    # article-as-one offsets
    assert maps[4]["week"] == ("DATE", "2020-W24")
    # r5 reference alignment: numeric "in <n> <unit>" stays a DURATION
    # (SUTimeITest "in four years" -> P4Y); only article forms offset
    assert maps[1]["days"] == ("DURATION", "P3D")
    assert maps[2]["2-3"] == ("DURATION", "P2W/P3W")
    assert maps[2]["four"] == ("DURATION", "P2M/P4M")
    m3 = rows[3]["tokens"]
    vals = [t["nner"] for t in m3 if t["word"].lower() == "march"]
    assert vals == ["2020-03", "2021-03"]
    assert maps[3]["month"] == ("DATE", "2020-05")


def test_sutime_tod_and_day_compounds(spark):
    """Times of day (english.sutime.txt TOD table) and day compounds
    (RelativeTime composition): tonight/this morning/noon/midnight and
    the day after tomorrow / before yesterday. Docdate 2020-06-15."""
    docs = with_docdate(_docs(spark, [
        "We leave the day after tomorrow. It rained the day before yesterday.",
        "See you tonight. She ran this morning. He naps tomorrow afternoon.",
        "Lunch is at noon. The train departs at midnight.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["tomorrow"] == ("DATE", "2020-06-17")
    assert maps[0]["yesterday"] == ("DATE", "2020-06-13")
    assert maps[1]["tonight"] == ("TIME", "2020-06-15TNI")
    assert maps[1]["morning"] == ("TIME", "2020-06-15TMO")
    assert maps[1]["afternoon"] == ("TIME", "2020-06-16TAF")
    assert maps[2]["noon"] == ("TIME", "2020-06-15T12:00")
    assert maps[2]["midnight"] == ("TIME", "2020-06-15T00:00")


def test_sutime_decades_seasons_meridiem_weekend(spark):
    """Decades (199X), mod-year compounds (mid-2015), clock+meridiem
    (7 pm -> T19:00), weekend week-parts, season values with verb-use
    gating (english.sutime.txt season/decade rules). Docdate 2020-06-15."""
    docs = with_docdate(_docs(spark, [
        "He grew up in the 1990s. The firm was built in mid-2015.",
        "The show airs at 7 pm. See you next weekend.",
        "They met during the summer of 1969. Prices fall quickly.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["1990s"] == ("DATE", "199X")
    assert maps[0]["mid-2015"] == ("DATE", "2015|MID")
    # r5: bare clock times anchor to the docdate (SUTimeITest "7pm" ->
    # 2005-08-12T19:00)
    assert maps[1]["pm"] == ("TIME", "2020-06-15T19:00")
    assert maps[1]["weekend"] == ("DATE", "2020-W26-WE")
    assert maps[2]["summer"] == ("DATE", "1969-SU")
    assert maps[2]["fall"][0] != "DATE"  # verb use never fires


def test_quote_attribution(spark):
    docs = _docs(spark, ['"Stop right there," Jane said loudly.'])
    out = quote_docs(annotate(docs, upto="ner")).first()
    assert len(out["quotes"]) == 1
    q = out["quotes"][0]
    assert q["text"].startswith("Stop")
    assert q["speaker"] == "Jane"


def test_nested_quotes(spark):
    """QuoteAnnotator nesting: both the outer and inner quote are emitted,
    the outer spanning the inner."""
    docs = _docs(spark, ['"She told me `run fast\' today," Jane said.'])
    out = quote_docs(annotate(docs, upto="ner")).first()
    qs = sorted(out["quotes"], key=lambda q: q["start_tok"])
    assert len(qs) == 2
    outer, inner = qs
    assert "run fast" in outer["text"] and inner["text"] == "run fast"
    assert outer["start_tok"] < inner["start_tok"] \
        and inner["end_tok"] < outer["end_tok"]
    assert outer["speaker"] == "Jane"


def test_quote_without_speech_verb_unattributed(spark):
    docs = _docs(spark, ['The sign "no entry" hung near Jane.'])
    out = quote_docs(annotate(docs, upto="ner")).first()
    assert len(out["quotes"]) == 1
    assert out["quotes"][0]["speaker"] is None


def test_truecase(spark):
    docs = _docs(spark, ["barack obama visited paris and ibm."])
    out = truecase_docs(annotate(docs, upto="tag")).first()
    words = [t["word"] for t in out["tokens"]]
    assert "Barack" in words and "Obama" in words and "Paris" in words and "IBM" in words


def test_gender(spark):
    docs = _docs(spark, ["Marie Curie discovered polonium. John McCain spoke."])
    m = gender_mentions(mention_rows(annotate(docs, upto="ner")))
    by = {r.text: r.gender for r in m.collect()}
    assert by.get("Marie Curie") == "FEMALE"
    assert by.get("John McCain") == "MALE"


def test_sutime_timex_mod_attributes(spark):
    """TIMEX3 mod attributes (time/SUTime.java TimexMod, english.sutime.txt
    mod rules): APPROX / MORE_THAN / LESS_THAN / EQUAL_OR_MORE on durations,
    START/MID/END on dates — serialized as the |MOD suffix on the value
    string (this engine's encoding of the separate TIMEX3 mod attribute)."""
    docs = with_docdate(_docs(spark, [
        "The project took about three weeks.",
        "She stayed for more than two years. He waited less than a month.",
        "Revenues rose in early 2015. The firm struggled in late 2008.",
        "It lasted at least five days.",
        "The early results were promising.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["about"] == ("DURATION", "P3W|APPROX")
    assert maps[0]["weeks"] == ("DURATION", "P3W|APPROX")
    assert maps[1]["more"] == ("DURATION", "P2Y|MORE_THAN")
    assert maps[1]["less"] == ("DURATION", "P1M|LESS_THAN")
    assert maps[2]["early"] == ("DATE", "2015|EARLY")
    assert maps[2]["late"] == ("DATE", "2008|LATE")
    assert maps[3]["least"] == ("DURATION", "P5D|EQUAL_OR_MORE")
    # 'early' not followed by a temporal run stays untouched
    assert maps[4]["early"][0] not in ("DATE", "TIME", "DURATION")


def test_sutime_subday_vague_nth_weekday(spark):
    """r4 SUTime depth: sub-day durations (PT-forms), vague counts
    (PX<unit>), half-an-hour, mid-June compounds, and ordinal
    weekday-of-month resolution (english.sutime.txt nth-DOW rules).
    Docdate 2020-06-15."""
    docs = with_docdate(_docs(spark, [
        "The meeting lasted three hours. He waited 45 minutes.",
        "She stayed a few weeks. It took several months.",
        "The drive took half an hour.",
        "The product ships in mid-June.",
        "They meet the first Monday of March. Payday is the last Friday in June.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["hours"] == ("DURATION", "PT3H")
    assert maps[0]["minutes"] == ("DURATION", "PT45M")
    assert maps[1]["few"] == ("DURATION", "PXW")
    assert maps[1]["several"] == ("DURATION", "PXM")
    assert maps[2]["half"] == ("DURATION", "PT30M")
    assert maps[3]["mid-june"] == ("DATE", "2020-06|MID")
    # 2020-03-01 is a Sunday → first Monday = 2020-03-02
    assert maps[4]["monday"] == ("DATE", "2020-03-02")
    # last Friday of June 2020 = 2020-06-26
    assert maps[4]["friday"] == ("DATE", "2020-06-26")


def test_sutime_movable_holidays(spark):
    """english.holidays.sutime.txt JH_* rules: nth-weekday US holidays,
    Easter-relative feasts (computus offsets), clitic-split possessive
    names (Mother's/Valentine's Day). Docdate 2020-06-15."""
    docs = with_docdate(_docs(spark, [
        "Memorial Day and Labor Day are holidays.",
        "They married on Mother's Day. Cards arrive before Valentine's Day.",
        "Good Friday precedes Easter. Ash Wednesday starts Lent.",
        "Banks close on Martin Luther King Day and Columbus Day.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["memorial"] == ("DATE", "2020-05-25")
    assert maps[0]["labor"] == ("DATE", "2020-09-07")
    assert maps[1]["mother"] == ("DATE", "2020-05-10")
    assert maps[1]["valentine"] == ("DATE", "2020-02-14")
    assert maps[2]["good"] == ("DATE", "2020-04-10")
    assert maps[2]["ash"] == ("DATE", "2020-02-26")
    assert maps[3]["luther"] == ("DATE", "2020-01-20")
    assert maps[3]["columbus"] == ("DATE", "2020-10-12")


def test_quote_pronoun_speaker_and_continuation(spark):
    """QuoteAttribution depth (r4): pronoun speakers ('\"...,\" he said.')
    and the conversational continuation sieve (an unattributed quote
    directly after an attributed one keeps the speaker)."""
    from corenlp_spark.operators.aux_annotators import quote_docs
    from corenlp_spark.plans.fused import annotate

    docs = _docs(spark, [
        '"We will win," he said.',
        '"We start today," said John McCain. "Nothing stops us."',
    ])
    rows = quote_docs(annotate(docs, upto="ner")).collect()
    q0 = rows[0]["quotes"]
    assert len(q0) == 1 and q0[0]["speaker"] == "he"
    q1 = sorted(rows[1]["quotes"], key=lambda q: q["start_tok"])
    assert q1[0]["speaker"] in ("John", "McCain")
    assert q1[1]["speaker"] == q1[0]["speaker"]


def test_sutime_time_ranges(spark):
    """Clock-time ranges: 'from 5 pm to 7 pm' → one TIME interval
    T17:00/T19:00 (TIMEX3 beginPoint/endPoint, same as the date ranges).
    Docdate 2020-06-15."""
    docs = with_docdate(_docs(spark, [
        "The event runs from 5 pm to 7 pm.",
        "He worked from 1992 to 2004.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["pm"] == ("TIME", "T17:00/T19:00")
    assert maps[1]["1992"] == ("DATE", "1992/2004")


def test_presidents_day_clitic_forms(spark):
    """The standard punctuated spellings "Presidents' Day" / "President's
    Day" tokenize with a clitic apostrophe and must resolve like the bare
    form (english.holidays.sutime.txt JH_PRESIDENTS_DAY; 2020 → Feb 17)."""
    docs = with_docdate(_docs(spark, [
        "Presidents' Day is a holiday.",
        "President's Day closes banks.",
        "Presidents Day is in February.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    for r in rows:
        vals = {t["nner"] for t in r["tokens"]
                if t["ner"] == "DATE" and t["word"] in
                ("Presidents", "President", "'", "'s", "Day")}
        assert vals == {"2020-02-17"}, (r["doc_id"], vals)


def _quotes_of(spark, text):
    from corenlp_spark.operators.aux_annotators import quote_docs

    r = quote_docs(annotate(_docs(spark, [text]), upto="ner")).first()
    return [(q["text"], q["speaker"]) for q in r["quotes"]]


def test_quote_trigram_sieve_beats_proximity(spark):
    """Sieve 1 (trigram speech-verb, QuoteAttributionAnnotator QM sieve
    order): the verb-ADJACENT person wins even when another PERSON sits
    earlier in the ±5 proximity window."""
    got = _quotes_of(spark, 'After Mary left, "It is done," said John.')
    assert got == [("It is done ,", "John")]


def test_quote_vocative_sieve(spark):
    """Sieve 4 (vocative): a comma-set-off PERSON inside a quote names the
    addressee — the following reply is attributed to them."""
    got = _quotes_of(spark, '"Tell me, John, what happened." "It went well."')
    assert got[1] == ("It went well .", "John")
    # the vocative quote itself stays unattributed (no nearby speech verb)
    assert got[0][1] is None


def test_quote_continuation_is_one_step(spark):
    """Sieve 5 stays NON-cascading (one lag step — the SQL-replayable
    contract): a third unattributed quote after a continuation-filled one
    still inherits only from a DIRECTLY-attributed predecessor."""
    got = _quotes_of(
        spark, 'Maria Quinn shouted, "Go!" Then silence came. "Now." "Run."')
    # trigram sieve: the verb-adjacent name token
    assert got[0] == ("Go !", "Quinn")
    # "Now." is >3 tokens after "Go!" → no continuation; "Run." follows an
    # UNattributed quote → the one-step rule must not cascade Quinn forward
    assert got[1] == ("Now .", None)
    assert got[2] == ("Run .", None)


def test_sutime_periodic_sets_and_pod_composition(spark):
    """'every other week' → P2W SET, 'every three days' → P3D SET
    (PeriodicTemporal), and part-of-day composed with an explicit date:
    'the morning of June 5' → 2020-06-05TMO (VERDICT r4 missing #4)."""
    docs = with_docdate(_docs(spark, [
        "They meet every other week. He trains every three days.",
        "It happened on the morning of June 5.",
        "She left on the evening of 5 June.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["other"] == ("SET", "P2W")
    assert maps[0]["three"] == ("SET", "P3D")
    assert maps[1]["morning"] == ("TIME", "2020-06-05TMO")
    assert maps[1]["5"] == ("TIME", "2020-06-05TMO")
    assert maps[2]["evening"] == ("TIME", "2020-06-05TEV")


def test_json_timex_mod_and_anchor(spark):
    """JSONOutputter timex objects carry the TIMEX3 mod attribute (split
    from the engine's |MOD value suffix) and anchorTimeID='t0' on
    deictically-resolved spans."""
    import json

    from corenlp_spark.sources.json_out import to_corenlp_json

    docs = with_docdate(_docs(spark, [
        "He left early 2015. She arrives tomorrow. They met in June 1990.",
    ]), fixed="2020-06-15")
    ann = annotate(docs, sutime=True)
    doc = json.loads(to_corenlp_json(ann).first()["json"])
    tx = {t["word"]: t.get("timex") for s in doc["sentences"]
          for t in s["tokens"]}
    assert tx["2015"]["value"] == "2015" and tx["2015"]["mod"] == "EARLY"
    assert tx["tomorrow"]["value"] == "2020-06-16"
    assert tx["tomorrow"]["anchorTimeID"] == "t0"
    # an absolute date gets no anchor and no mod
    assert tx["1990"].get("anchorTimeID") is None
    assert tx["1990"].get("mod") is None


def test_sutime_timezone_joins_clock_span(spark):
    """'5 pm EST' — the zone abbreviation joins the TIME span and the
    value carries the zone's RFC-822 offset (SUTimeITest
    testSUIsoWithTimezone; r5 upgraded from the zone-free value)."""
    docs = with_docdate(_docs(spark, ["The call is at 5 pm EST today."]),
                        fixed="2020-06-15")
    out = annotate(docs, upto="ner", sutime=True).first()
    m = _tok_map(out)
    assert m["5"] == ("TIME", "2020-06-15T17:00-0500")
    assert m["est"] == ("TIME", "2020-06-15T17:00-0500")


def test_sutime_r5_weekend_century_week_fortnight_decades(spark):
    """r5 tranche: Christmas Eve/Day (Eve is its OWN holiday, Dec 24),
    bare 'the weekend', centuries (19th → 18XX), ISO weeks ('week 12 of
    2019'), fortnight duration + ago-offset, decade/century ago offsets
    (year granularity), mod-decade compounds (mid-1990s → 199X|MID).
    Docdate 2020-06-15."""
    docs = with_docdate(_docs(spark, [
        "We met on Christmas Eve. Gifts came on Christmas Day.",
        "It rained over the weekend. The house dates to the 19th century.",
        "Sales peaked in week 12 of 2019. He left a fortnight ago.",
        "A decade ago things differed. It was built two centuries ago.",
        "Grunge ruled the mid-1990s.",
    ]), fixed="2020-06-15")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["eve"] == ("DATE", "2020-12-24")
    assert maps[0]["day"] == ("DATE", "2020-12-25")
    assert maps[1]["weekend"] == ("DATE", "2020-W25-WE")
    assert maps[1]["century"] == ("DATE", "18XX")
    assert maps[2]["week"] == ("DATE", "2019-W12")
    assert maps[2]["fortnight"] == ("DATE", "2020-06-01")
    assert maps[3]["decade"] == ("DATE", "2010")
    assert maps[3]["centuries"] == ("DATE", "1820")
    assert maps[4]["mid-1990s"] == ("DATE", "199X|MID")


def test_sutime_itest_duration_tranche(spark):
    """Duration tranche ported from the reference's own integration suite
    (itest/src/edu/stanford/nlp/time/SUTimeITest.java:52-93,148-175):
    hyphenated duration adjectives (3-year → P3Y, four-month old → P4M),
    compound written-number durations (twenty four years → P24Y, five
    hundred and twelve days → P512D — but 'six and three months' is NOT a
    compound: only P3M), ordinal streaks (fifth straight year → P5Y, third
    straight month in a row → P3M, ninth day consecutively → P9D),
    decade/century duration units (a decade → P10Y, hundred decades →
    P1000Y), vague durations (a few decades → PXY, recent weeks → PXW),
    and the no-more-than mod (no more than 60 days → P60D|EQUAL_OR_LESS).
    Docdate 2010-02-17 as in the itest."""
    docs = with_docdate(_docs(spark, [
        "It was a 3-year long drought. The four-month old baby slept.",
        "Over the past twenty four years, the number of crashes fell.",
        "It was five hundred and twelve days. It was six and three months.",
        "Sales rose for the fifth straight year.",
        "Business was slow for the third straight month in a row.",
        "Did it rain on the ninth day consecutively?",
        "That took a decade. After a few decades, old memories faded.",
        "After a few hundred decades, everything changed.",
        "It has been warm in recent weeks.",
        "There are no more than 60 days. The 22-year old model left.",
    ]), fixed="2010-02-17")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    assert maps[0]["3-year"] == ("DURATION", "P3Y")
    assert maps[0]["four-month"] == ("DURATION", "P4M")
    assert maps[0]["old"] == ("DURATION", "P4M")  # span absorbs "old"
    assert maps[1]["twenty"] == ("DURATION", "P24Y")
    assert maps[1]["years"] == ("DURATION", "P24Y")
    assert maps[2]["five"] == ("DURATION", "P512D")
    assert maps[2]["days"] == ("DURATION", "P512D")
    assert maps[2]["months"] == ("DURATION", "P3M")
    assert maps[2]["six"][0] != "DURATION"  # not absorbed into a compound
    assert maps[3]["fifth"] == ("DURATION", "P5Y")
    assert maps[3]["year"] == ("DURATION", "P5Y")
    assert maps[4]["month"] == ("DURATION", "P3M")
    assert maps[4]["row"] == ("DURATION", "P3M")  # "in a row" in the span
    assert maps[5]["ninth"] == ("DURATION", "P9D")
    assert maps[5]["consecutively"] == ("DURATION", "P9D")
    assert maps[6]["decade"] == ("DURATION", "P10Y")
    assert maps[6]["decades"] == ("DURATION", "PXY")
    assert maps[7]["hundred"] == ("DURATION", "P1000Y")
    assert maps[7]["decades"] == ("DURATION", "P1000Y")
    assert maps[8]["recent"] == ("DURATION", "PXW")
    assert maps[8]["weeks"] == ("DURATION", "PXW")
    assert maps[9]["60"] == ("DURATION", "P60D|EQUAL_OR_LESS")
    assert maps[9]["no"] == ("DURATION", "P60D|EQUAL_OR_LESS")
    assert maps[9]["22-year"] == ("DURATION", "P22Y")


def test_sutime_itest_r5_tranche(spark):
    """SUTimeITest tranche 2 (testSUTimeTime/testSUTime2/testSUTimeDate/
    testSUTimeDateTime2 re-expressed): written clock times, date+time
    composition, weekday fusion with explicit dates, written years, BC
    years, year-prefixed quarters, plural-weekday sets, month-day year
    anchoring. Docdate 1995-07-20 (a Thursday)."""
    docs = with_docdate(_docs(spark, [
        "It was ten minutes to three. Meet at half past noon.",
        "The concert is at 8:00 pm on Friday.",
        "Mr. Smith left Friday, October 1, 1999.",
        "Mr. Smith arrived on the second of December.",
        "In October of 1963, there was a big snow storm.",
        "The book was published in nineteen ninety-one.",
        "I tutored some Thursdays in 1994. She sees him alternate Fridays.",
        "The 1997 second quarter was strong.",
        "The city was founded in 567 bc.",
        "It happened May 1. The play is the third week of April.",
        "She arrived Saturday night. He left 2 days before yesterday.",
    ]), fixed="1995-07-20")
    rows = annotate(docs, upto="ner", sutime=True).collect()
    maps = [_tok_map(r) for r in rows]
    # written clock, docdate-anchored
    assert maps[0]["ten"] == ("TIME", "1995-07-20T02:50")
    assert maps[0]["half"] == ("TIME", "1995-07-20T12:30")
    # date+time composition through "on"
    assert maps[1]["8:00"] == ("TIME", "1995-07-21T20:00")
    assert maps[1]["friday"] == ("TIME", "1995-07-21T20:00")
    # weekday fused into the explicit date (explicit wins)
    assert maps[2]["friday"] == ("DATE", "1999-10-01")
    # "the Nth of Month": most recent month not after the docdate's
    assert maps[3]["december"] == ("DATE", "1994-12-02")
    # month of year
    assert maps[4]["october"] == ("DATE", "1963-10")
    # written year
    assert maps[5]["nineteen"] == ("DATE", "1991")
    # plural weekday sets
    assert maps[6]["thursdays"] == ("SET", "1994-WXX-4")
    assert maps[6]["fridays"] == ("SET", "XXXX-WXX-5")
    # year-prefixed ordinal quarter (not PT1997S!)
    assert maps[7]["1997"] == ("DATE", "1997-Q2")
    # BC year (ISO-8601 astronomical)
    assert maps[8]["567"] == ("DATE", "-0566")
    # month-day anchors to the docdate year; nth week of month
    assert maps[9]["may"] == ("DATE", "1995-05-01")
    assert maps[9]["third"] == ("DATE", "1995-W15")
    # weekday+TOD composition and duration-before-date offset
    assert maps[10]["night"] == ("TIME", "1995-07-22TNI")
    assert maps[10]["2"] == ("DATE", "1995-07-17")
