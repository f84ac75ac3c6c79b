"""Wikipedia-edits IRC source (sources/wikiedits_irc.py): the reference's
event parser behaviors (ref WikipediaEditEvent.java) and the RFC 1459
client against a live in-process IRC server."""

from __future__ import annotations

from my_flink_1_10_2_spark.sources.wikiedits_irc import (
    IS_BOT_EDIT,
    IS_MINOR,
    IS_NEW,
    IS_SPECIAL,
    IS_TALK,
    IS_UNPATROLLED,
    parse_edit_event,
    wikipedia_edits_source,
)
from my_flink_1_10_2_spark.testing import InMemoryIrcServer

RAW = (
    "[[Foo bar]] MB https://en.wikipedia.org/w/index.php?diff=1 * alice * "
    "(+42) fixed a typo"
)


def test_parse_edit_event_fields_and_flags():
    ev = parse_edit_event(7, "#en.wikipedia", RAW)
    assert ev is not None
    assert ev.timestamp == 7 and ev.channel == "#en.wikipedia"
    assert ev.title == "Foo bar"
    assert ev.diff_url == "https://en.wikipedia.org/w/index.php?diff=1"
    assert ev.user == "alice" and ev.byte_diff == 42
    assert ev.summary == "fixed a typo"
    assert ev.is_minor() and ev.is_bot_edit()
    assert not (ev.is_new() or ev.is_unpatrolled() or ev.is_special() or ev.is_talk())


def test_parse_negative_diff_special_talk_and_unpatrolled():
    ev = parse_edit_event(
        0, "#c", "[[Special:Log/upload]] N! http://u * bob * (-17) removed"
    )
    assert ev.byte_diff == -17
    assert ev.flags & IS_NEW and ev.flags & IS_UNPATROLLED and ev.flags & IS_SPECIAL
    ev2 = parse_edit_event(0, "#c", "[[Talk:Physics]] M http://u * eve * (+1) hm")
    assert ev2.flags & IS_TALK and ev2.flags & IS_MINOR
    assert not ev2.flags & (IS_BOT_EDIT | IS_SPECIAL)


def test_parse_strips_mirc_color_codes():
    colored = (
        "\x0314[[\x0307Foo\x0314]]\x034 M\x0310 \x0302http://d\x03 \x035*\x03 "
        "\x0303carol\x03 \x035*\x03 (+5) \x0310note\x03"
    )
    ev = parse_edit_event(0, "#c", colored)
    assert ev is not None and ev.title == "Foo" and ev.user == "carol"
    assert ev.byte_diff == 5 and ev.summary == "note"


def test_parse_rejects_non_edit_lines():
    assert parse_edit_event(0, "#c", "just chatter with no brackets") is None
    assert parse_edit_event(0, "#c", "[[T]] M http://u * x * (abc) s") is None


def test_source_drains_live_irc_server(spark):
    lines = [
        "[[Page A]] M http://d/1 * u1 * (+10) one",
        "not an edit line — must be dropped",
        "[[Talk:Page B]] NB http://d/2 * u2 * (-3) two",
    ]
    server = InMemoryIrcServer("#test.wiki", lines)
    try:
        df = wikipedia_edits_source(
            spark, "127.0.0.1", server.port, "#test.wiki", timestamp=5
        )
        rows = {r.title: r for r in df.collect()}
        assert set(rows) == {"Page A", "Talk:Page B"}
        assert rows["Page A"].byte_diff == 10 and rows["Page A"].flags == IS_MINOR
        assert rows["Talk:Page B"].flags == IS_NEW | IS_BOT_EDIT | IS_TALK
        assert all(r.timestamp == 5 and r.channel == "#test.wiki"
                   for r in rows.values())
        assert server.joins == 1  # parallelism-1 source: exactly one JOIN
        assert server.pongs == 1  # the keepalive PING was answered
    finally:
        server.close()


def test_connectors_shim_delegates(spark):
    from my_flink_1_10_2_spark.sources.connectors import wikipedia_edits_source as shim

    server = InMemoryIrcServer("#en.wikipedia", [RAW])
    try:
        df = shim(spark, host="127.0.0.1", port=server.port)
        assert df.count() == 1  # default channel joined the emulator feed
    finally:
        server.close()
