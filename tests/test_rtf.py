"""RTF → text: control-word state machine, destination skipping,
cp1252 + Unicode escapes (surrogate pairs), total-function contract."""

from lexoid_spark.kernels.rtf import rtf_to_text

U = b"\\" + b"u"       # avoid literal \u escapes in source text
UC = b"\\" + b"uc"


class TestRtf:
    def test_document_shape(self):
        rtf = (rb'{\rtf1\ansi\ansicpg1252\deff0'
               rb'{\fonttbl{\f0 Times New Roman;}}'
               rb'{\colortbl ;\red0\green0\blue0;}'
               rb'{\*\generator Acme 1.0;}'
               + UC + b"1" + rb'\pard\f0\fs24 Hello \b world\b0  caf'
               + b"\\'e9" + rb'\par'
               + rb'Second \ldblquote para\rdblquote\tab tabbed'
               + rb'\line end}')
        assert rtf_to_text(rtf) == (
            "Hello world caf\xe9\nSecond “para”\ttabbed\nend")

    def test_uc_fallback_skipping(self):
        rtf = (rb'{\rtf1 A' + UC + b"2" + U + b"233 xxB C}")
        assert rtf_to_text(rtf) == "A\xe9B C"

    def test_surrogate_pair_combines(self):
        rtf = (rb'{\rtf1 neg' + U + b"-10179?" + U + b"-8704? done}")
        out = rtf_to_text(rtf)
        assert out == "neg\U0001F600 done"
        out.encode("utf-8")  # no lone surrogates survive

    def test_lone_surrogate_scrubbed(self):
        rtf = (rb'{\rtf1 x' + U + b"-10179? y}")
        out = rtf_to_text(rtf)
        out.encode("utf-8")
        assert out == "x� y"

    def test_total_on_garbage(self):
        assert rtf_to_text(b"{" + rb"\rtf1 broken") == "broken"
        assert rtf_to_text(b"plain text") == "plain text"
        assert rtf_to_text(None) == ""
        for cut in range(0, 40, 7):
            s = rtf_to_text((rb'{\rtf1\ansi abc\par def}')[:cut])
            assert isinstance(s, str)

    def test_bin_skipped(self):
        rtf = rb'{\rtf1 a{\pict\bin5 ' + bytes(5) + rb'}b}'
        assert rtf_to_text(rtf) == "ab"

    def test_txt_arm_dispatch(self):
        from lexoid_spark.functions.udfs import _txt_decode

        assert _txt_decode(rb'{\rtf1 hi\par there}') == "hi\nthere"
        assert _txt_decode(b"just text") == "just text"


# RTF whose first line holds a comma and no '<': the csv probe of both
# doctype sniffs would take it without the RTF arm
RTF_CSV_LIKE = [
    rb'{\rtf1\ansi{\fonttbl{\f0 Times;}}\pard Hello, world\par tail}',
    rb'{\rtf1 a, b, c\par d}',
    rb'{\rtf1\ansi\ansicpg1252 caf' + b"\\'e9" + rb', ol' + b"\\'e9" + rb'}',
]


class TestRtfRouting:
    def test_sniff_twins_agree_on_txt(self, spark):
        from lexoid_spark.kernels.pdf_md import sniff_doctype
        from lexoid_spark.operators.routing import with_doctype

        assert [sniff_doctype(p) for p in RTF_CSV_LIKE] == \
            ["txt"] * len(RTF_CSV_LIKE)
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(RTF_CSV_LIKE)],
            "i long, html binary")
        got = {r["i"]: r["doctype"] for r in with_doctype(df).collect()}
        assert got == {i: "txt" for i in range(len(RTF_CSV_LIKE))}

    def test_extract_and_parse_return_rtf_text(self, spark):
        from lexoid_spark.api import parse
        from lexoid_spark.plans.extract import extract

        want = {f"rtf://{i}": rtf_to_text(p)
                for i, p in enumerate(RTF_CSV_LIKE)}
        assert "Hello, world\ntail" in want.values()
        pages = spark.createDataFrame(
            [(f"rtf://{i}", None, bytearray(p), "", "en")
             for i, p in enumerate(RTF_CSV_LIKE)],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")
        out = extract(pages, repartition=False)
        got = {r["url"]: r["raw"] for r in out["extracted"].collect()}
        assert got == want
        assert out["errors"].count() == 0
        for i, p in enumerate(RTF_CSV_LIKE):
            assert parse(p)["raw"] == want[f"rtf://{i}"]
