"""Report-layer unit tests (R1-R5) — inline expected values, like the
reference's `tests/myfitnesspaw/test_tasks.py` style."""

from __future__ import annotations

import sys
import threading
from datetime import date

import pytest

from myfitnesspaw_spark.report import (
    PALETTE_DEFAULT,
    PALETTE_NEGATIVE,
    ProgressReport,
    chart_segments,
    prepare_table,
    render_html,
)

TODAY = date(2024, 2, 10)

# rows: (date, deficit, total)
ROWS = [
    (date(2024, 2, 5), 100, 100),
    (date(2024, 2, 6), None, 100),  # no-meals day → dropped (types.py:196)
    (date(2024, 2, 7), 250, 350),
    (date(2024, 2, 8), -50, 300),
    (date(2024, 2, 9), 200, 500),  # yesterday → fresh
]


def test_prepare_table_drops_nulls_and_tails():
    out = prepare_table(ROWS, deficit_idx=1, date_idx=0, num_rows=3, today=TODAY)
    assert out == [
        (date(2024, 2, 7), 250, 350),
        (date(2024, 2, 8), -50, 300),
        (date(2024, 2, 9), 200, 500),
    ]


def test_prepare_table_freshness_guard():
    stale = [r for r in ROWS if r[0] < date(2024, 2, 9)]
    assert prepare_table(stale, 1, 0, num_rows=3, today=TODAY) == []


def test_prepare_table_empty():
    assert prepare_table([], 1, 0, today=TODAY) == []


def test_chart_segments_positive_day():
    segments, palette = chart_segments(total_so_far=500, today_delta=200, end_goal=1000)
    assert segments == [("done", 300), ("today", 200), ("remaining", 500)]
    assert palette is PALETTE_DEFAULT


def test_chart_segments_negative_day_flips_palette():
    segments, palette = chart_segments(total_so_far=300, today_delta=-50, end_goal=1000)
    assert segments == [("done", 300), ("today", 50), ("remaining", 650)]
    assert palette is PALETTE_NEGATIVE


def _report(rows=ROWS):
    return ProgressReport(
        username="alice",
        end_goal=1000,
        rows=rows,
        columns=["date", "deficit", "total"],
        deficit_idx=1,
        date_idx=0,
        total_idx=2,
        num_rows=3,
        today=TODAY,
    )


def test_report_context():
    ctx = _report().context()
    assert ctx["user"] == "Alice"
    assert ctx["fresh"] is True
    assert len(ctx["table"]) == 3
    assert ctx["segments"] == [("done", 300), ("today", 200), ("remaining", 500)]


def test_day_number_counts_non_null_rows():
    assert _report().day_number == 4


def test_render_html_fresh_and_stale():
    html = render_html(_report())
    assert "<h1>Alice — progress</h1>" in html
    assert html.count("<tr>") == 1 + 3  # header + 3 data rows
    stale = _report(rows=[(date(2024, 2, 5), 100, 100)])
    assert "report skipped" in render_html(stale)


# --- K7: SMTP delivery behind an injectable transport ---------------------


class _RecordingTransport:
    def __init__(self, log):
        self.log = log

    def login(self, username, password):
        self.log.append(("login", username, password))

    def send_message(self, message):
        self.log.append(("send", message))

    def quit(self):
        self.log.append(("quit",))


class _FailingTransport(_RecordingTransport):
    def send_message(self, message):
        raise RuntimeError("boom")


def test_send_report_full_message_shape():
    from myfitnesspaw_spark.report.email import (
        Attachment,
        EmailReport,
        send_report,
    )

    log: list = []
    report = EmailReport(
        subject="Progress",
        email_to="a@example.invalid",
        email_to_cc="c@example.invalid",
        html="<p>hi</p>",
        plain="hi",
        attachments=[Attachment("chart.png", b"\x89PNG fake", "chart.png@report")],
    )
    msg = send_report(report, "user", "pw", lambda: _RecordingTransport(log))
    assert [e[0] for e in log] == ["login", "send", "quit"]
    assert log[0][1:] == ("user", "pw")
    assert msg["Subject"] == "Progress"
    assert msg["Cc"] == "c@example.invalid"
    parts = msg.get_payload()
    # Reference order (`tasks.py:200-205`): plain first, HTML last, so
    # clients render HTML; attachment carries Content-ID for inline use.
    assert [p.get_content_type() for p in parts] == [
        "text/plain",
        "text/html",
        "application/octet-stream",
    ]
    assert parts[2]["Content-ID"] == "<chart.png@report>"
    assert "attachment; filename= chart.png" in parts[2]["Content-Disposition"]


def test_send_report_quits_on_failure():
    import pytest

    from myfitnesspaw_spark.report.email import EmailReport, send_report

    log: list = []
    with pytest.raises(RuntimeError, match="boom"):
        send_report(
            EmailReport(subject="s", email_to="t@example.invalid", html="x"),
            "u",
            "p",
            lambda: _FailingTransport(log),
        )
    assert ("quit",) in log  # `finally: server.quit()` (`tasks.py:229-233`)


def test_smtp_transport_rejects_unknown_type():
    import pytest

    from myfitnesspaw_spark.report.email import smtp_transport

    with pytest.raises(ValueError, match="unsupported"):
        smtp_transport("localhost", 25, "PLAINTEXT")


# --- R2: actual PNG render ------------------------------------------------


def test_progress_bar_png_valid_and_proportional():
    import struct
    import zlib

    import numpy as np

    from myfitnesspaw_spark.report.chart import render_progress_bar_png
    from myfitnesspaw_spark.report.progress import chart_segments

    segments, palette = chart_segments(
        total_so_far=500, today_delta=200, end_goal=1000
    )
    # Segment math invariant: widths cover the goal exactly.
    assert sum(w for _, w in segments) == 1000

    png = render_progress_bar_png(segments, palette, width=100, height=20)
    assert png.startswith(b"\x89PNG\r\n\x1a\n") and png.endswith(
        b"IEND" + struct.pack(">I", zlib.crc32(b"IEND"))
    )
    w, h = struct.unpack(">II", png[16:24])
    assert (w, h) == (100, 20)

    # Decode the IDAT back and check the painted pixel proportions
    # match the cumsum-left geometry (done 30%, today 20%, rest 50%).
    idat = png[png.index(b"IDAT") + 4 :]
    raw = zlib.decompress(idat[: idat.rindex(b"IEND") - 8])
    img = np.frombuffer(raw, dtype=np.uint8).reshape(20, 1 + 100 * 3)[:, 1:]
    img = img.reshape(20, 100, 3)
    mid = img[10]
    done_px = int((mid == [0x4C, 0xAF, 0x50]).all(axis=1).sum())
    today_px = int((mid == [0x21, 0x96, 0xF3]).all(axis=1).sum())
    rem_px = int((mid == [0xE0, 0xE0, 0xE0]).all(axis=1).sum())
    assert (done_px, today_px, rem_px) == (30, 20, 50)


def test_progress_bar_png_negative_day_flips_palette():
    from myfitnesspaw_spark.report.chart import render_progress_bar_png
    from myfitnesspaw_spark.report.progress import (
        PALETTE_NEGATIVE,
        chart_segments,
    )

    segments, palette = chart_segments(
        total_so_far=400, today_delta=-100, end_goal=1000
    )
    assert palette is PALETTE_NEGATIVE
    assert sum(w for _, w in segments) == 1000  # 400 + 100 + 500
    png = render_progress_bar_png(segments, palette)
    assert png.startswith(b"\x89PNG")


def test_progress_bar_png_empty_segments():
    from myfitnesspaw_spark.report.chart import render_progress_bar_png
    from myfitnesspaw_spark.report.progress import PALETTE_DEFAULT

    png = render_progress_bar_png(
        [("done", 0), ("today", 0), ("remaining", 0)], PALETTE_DEFAULT
    )
    assert png.startswith(b"\x89PNG")  # blank background, still a valid PNG


# --- R4 full parity: jinja2 template inheritance --------------------------


def test_render_html_jinja_inheritance_and_inline_chart():
    pytest = __import__("pytest")
    try:
        import jinja2  # noqa: F401
    except ImportError:
        pytest.skip("jinja2 unavailable")
    from myfitnesspaw_spark.report.progress import render_html_jinja

    html = render_html_jinja(_report(), chart_cid="chart.png@report")
    # Base-template skeleton present (inheritance applied)…
    assert "Generated report" in html  # base footer block
    assert "Progress Report" in html  # base header block
    # …child blocks override title/article…
    assert "Alice — progress" in html
    assert "Hello, Alice!" in html
    # …and the chart slot is the inline-cid image form.
    assert 'src="cid:chart.png@report"' in html
    assert html.count("<tr>") >= 4

    no_cid = render_html_jinja(_report())
    assert "cid:" not in no_cid and "display:inline-block" in no_cid

    stale = _report(rows=[(date(2024, 2, 5), 100, 100)])
    assert "report skipped" in render_html_jinja(stale)


def test_render_html_jinja_equals_a_freshly_built_environment(monkeypatch):
    """The once-per-process Environment renders byte-identical HTML to
    one built for the call, for fresh, stale and inline-chart reports."""
    pytest.importorskip("jinja2")
    from myfitnesspaw_spark.report import progress

    cases = [
        (_report(), None),
        (_report(rows=[(date(2024, 2, 5), 100, 100)]), None),  # stale
        (_report(), "chart.png@report"),
    ]
    cached = [progress.render_html_jinja(r, chart_cid=cid) for r, cid in cases]
    assert cached == [progress.render_html_jinja(r, chart_cid=cid) for r, cid in cases]
    # __wrapped__ is the uncached function: a new Environment per call.
    monkeypatch.setattr(progress, "_template_env", progress._template_env.__wrapped__)
    fresh = [progress.render_html_jinja(r, chart_cid=cid) for r, cid in cases]
    assert cached == fresh
    assert "report skipped" in fresh[1] and 'src="cid:chart.png@report"' in fresh[2]


def test_concurrent_first_renders_build_the_environment_once(monkeypatch):
    jinja2 = pytest.importorskip("jinja2")
    from myfitnesspaw_spark.report import progress

    builds = []

    class CountingEnvironment(jinja2.Environment):
        def __init__(self, *args, **kwargs):
            builds.append(1)
            super().__init__(*args, **kwargs)

    monkeypatch.setattr(jinja2, "Environment", CountingEnvironment)
    progress._template_env.cache_clear()
    clients = 8
    gate = threading.Barrier(clients)
    html = [None] * clients

    def client(i):
        gate.wait()
        html[i] = progress.render_html_jinja(_report(), chart_cid="chart.png@report")

    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
        progress._template_env.cache_clear()  # drop the counting Environment
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert html[0] and all(h == html[0] for h in html)


def test_full_report_flow_end_to_end():
    """R2+R4+K7 glue: segments → PNG → jinja HTML with cid → send via
    fake transport with the PNG attached inline — the reference's
    whole report flow (`flows.py:127-164`) minus the real SMTP socket."""
    try:
        import jinja2  # noqa: F401

        have_jinja = True
    except ImportError:
        have_jinja = False
    from myfitnesspaw_spark.report.chart import render_progress_bar_png
    from myfitnesspaw_spark.report.email import (
        Attachment,
        EmailReport,
        send_report,
    )
    from myfitnesspaw_spark.report.progress import render_html, render_html_jinja

    rpt = _report()
    ctx = rpt.context()
    png = render_progress_bar_png(ctx["segments"], ctx["palette"])
    cid = "chart.png@report"
    html = render_html_jinja(rpt, chart_cid=cid) if have_jinja else render_html(rpt)

    log: list = []

    class _T:
        def login(self, u, p):
            log.append("login")

        def send_message(self, m):
            log.append(m)

        def quit(self):
            log.append("quit")

    msg = send_report(
        EmailReport(
            subject="Progress",
            email_to="a@example.invalid",
            html=html,
            attachments=[Attachment("chart.png", png, cid)],
        ),
        "u",
        "p",
        lambda: _T(),
    )
    sent = [e for e in log if not isinstance(e, str)]
    assert len(sent) == 1 and sent[0] is msg
    import base64

    att = msg.get_payload()[-1]
    assert base64.b64decode(att.get_payload()) == png  # PNG survives intact
    assert att["Content-ID"] == f"<{cid}>"


def test_failure_payload_structure():
    from myfitnesspaw_spark.report.notifications import build_failure_payload

    p = build_failure_payload("mfp", "etl_flow", "Boom: fetch timed out")
    blocks = p["blocks"]
    assert blocks[0]["type"] == "header"
    fields = blocks[2]["fields"]
    assert any("`mfp`" in f["text"] for f in fields)
    assert any("`etl_flow`" in f["text"] for f in fields)
    assert "Boom: fetch timed out" in blocks[3]["text"]["text"]
    assert blocks[-1] == {"type": "divider"}  # branded context then divider


def test_notify_on_failure_posts_and_reraises():
    import pytest

    from myfitnesspaw_spark.report.notifications import (
        CollectingTransport,
        notify_on_failure,
    )

    t = CollectingTransport()
    with pytest.raises(ValueError, match="kaput"):
        with notify_on_failure("mfp", "report_flow", t):
            raise ValueError("kaput")
    assert len(t.payloads) == 1
    assert "ValueError: kaput" in str(t.payloads[0])

    # No failure → no notification.
    with notify_on_failure("mfp", "report_flow", t):
        pass
    assert len(t.payloads) == 1


def test_streaming_listener_posts_on_failed_query(spark, tmp_path):
    # A streaming query whose micro-batch raises must surface through
    # the listener bus as a failure payload (SURVEY §2.10's
    # onQueryTermination hook).
    import time

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.report.notifications import (
        CollectingTransport,
        FailureNotificationListener,
    )

    t = CollectingTransport()
    listener = FailureNotificationListener("mfp", t)
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "fail_src")
        spark.range(5).select(F.col("id")).write.parquet(src)

        def boom(batch, batch_id):
            raise RuntimeError("deliberate micro-batch failure")

        q = (
            spark.readStream.schema("id long")
            .parquet(src)
            .writeStream.foreachBatch(boom)
            .queryName("failing_query_under_test")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception:
            pass
        # Listener events are delivered asynchronously.
        deadline = time.time() + 30
        while not t.payloads and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert t.payloads, "listener never delivered the failure payload"
    text = str(t.payloads[0])
    assert "deliberate micro-batch failure" in text
    assert str(q.id) in text  # flow slot = query id (name not on event)


def test_png_decode_rgb_roundtrip_and_half_even_geometry():
    """png_decode_rgb inverts encode_png exactly, and the renderer's
    integer half-even x-bounds land ties on the even pixel (the
    property the chart_render_pixels oracle replicates in SQL)."""
    import numpy as np

    from myfitnesspaw_spark.report.chart import (
        _round_half_even,
        encode_png,
        png_decode_rgb,
        render_progress_bar_png,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(13, 29, 3), dtype=np.uint8)
    w, h, back = png_decode_rgb(encode_png(rgb))
    assert (w, h) == (29, 13) and (back == rgb).all()

    # Integer ties-to-even: 1/2 -> 0, 3/2 -> 2, plain cases exact.
    assert _round_half_even(1, 2) == 0
    assert _round_half_even(3, 2) == 2
    assert _round_half_even(5, 2) == 2
    assert _round_half_even(7, 2) == 4
    assert _round_half_even(7, 3) == 2

    # End-to-end: a tie at the done/today boundary (done=1, today=1,
    # total=4 at width 550 -> 137.5 -> 138 even) must paint exactly
    # 36 * 138 done pixels.
    png = render_progress_bar_png(
        [("done", 1), ("today", 1), ("remaining", 2)],
        {"done": "#4caf50", "today": "#2196f3", "remaining": "#e0e0e0"},
    )
    w, h, img = png_decode_rgb(png)
    done = (img == np.array([0x4C, 0xAF, 0x50], dtype=np.uint8)).all(axis=2).sum()
    assert int(done) == 36 * _round_half_even(1 * 550, 4)
    assert _round_half_even(550, 4) == 138  # the tie went to even
