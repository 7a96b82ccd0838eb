"""Facade-API parity tests — mirrors the reference's own test semantics
(/root/reference/test/test_analyzer.py) against our drop-in `analyze`,
plus the file-source ingest path."""

import pytest

from uk_ner_presidio_demo_spark.api import analyze
from uk_ner_presidio_demo_spark.semantics.registry import MAX_TEXT_LENGTH


class TestAnalyzeFacade:
    # mirrors test_analyzer.py:37-52
    def test_empty_raises(self):
        with pytest.raises(ValueError):
            analyze("")

    def test_whitespace_raises(self):
        with pytest.raises(ValueError):
            analyze("   \n\t  ")

    def test_too_long_raises(self):
        with pytest.raises(ValueError):
            analyze("A" * (MAX_TEXT_LENGTH + 1))

    # mirrors test_analyzer.py:54-62
    def test_max_length_accepted(self):
        r = analyze("A" * MAX_TEXT_LENGTH)
        assert r.original_text
        assert r.entities_count == len(r.entities)

    # mirrors test_analyzer.py:88-102
    def test_no_entities_identity(self):
        r = analyze("Звичайний текст без PII")
        assert r.anonymized_text == r.original_text
        assert r.entities_count == 0
        assert r.format_entities_list() == "Сутностей не знайдено"

    # mirrors test_analyzer.py:128-143
    def test_rewrite_replaces_surface(self):
        r = analyze("Іван Петренко працює в ТОВ 'Приват'.")
        assert "[PERS]" in r.anonymized_text
        assert "Іван Петренко" not in r.anonymized_text

    # mirrors test_analyzer.py:104-124 (enabled-set plumbing, O-6)
    def test_enabled_sets_restrict_detection(self):
        text = "Іван Петренко: ivan@example.com"
        both = analyze(text)
        only_email = analyze(text, ukrainian_entities=[],
                             presidio_entities=["EMAIL_ADDRESS"])
        types_both = {m.entity_type for m in both.entities}
        types_email = {m.entity_type for m in only_email.entities}
        assert "PERS" in types_both and "EMAIL_ADDRESS" in types_both
        assert types_email == {"EMAIL_ADDRESS"}

    def test_strategy_dispatch_matches_reference_default(self):
        # library default is "score" (core/analyzer.py:96)
        addr = "1BvBMSEYstWetqTFn5Au4m4GFg7xJaNVN2"
        score = analyze(f"гаманець {addr}")
        prio = analyze(f"гаманець {addr}", conflict_strategy="priority")
        t_score = {m.entity_type for m in score.entities}
        t_prio = {m.entity_type for m in prio.entities}
        assert "MISC" in t_score and "CRYPTO" in t_prio

    def test_unknown_strategy_raises(self):
        with pytest.raises(ValueError):
            analyze("Київ", conflict_strategy="wat")

    def test_format_entities_list_shape(self):
        r = analyze("Київ")
        line = r.format_entities_list()
        assert line.startswith("1. LOC: 'Київ'")
        assert "впевненість 1.00" in line


class TestFileSources:
    def test_txt_directory_ingest(self, spark, tmp_path):
        from uk_ner_presidio_demo_spark.operators.detect import (
            detect_turns, mentions_from_turns,
        )
        from uk_ner_presidio_demo_spark.sources.files import read_text_files

        (tmp_path / "a.txt").write_text(
            "Іван Петренко працює в ТОВ 'Приват'.", encoding="utf-8"
        )
        (tmp_path / "b.txt").write_text(
            "Email: test@example.com, Phone: +380501234567", encoding="utf-8"
        )
        df = read_text_files(spark, str(tmp_path))
        assert df.count() == 2
        assert set(df.columns) == {"conv_id", "turn_idx", "role", "text",
                                   "tool", "ts"}
        m = mentions_from_turns(detect_turns(df)).toPandas()
        by_file = m.groupby("conv_id")["entity_type"].apply(set).to_dict()
        assert {"PERS", "ORG"} <= by_file["a.txt"]
        assert {"EMAIL_ADDRESS", "PHONE_NUMBER"} <= by_file["b.txt"]

    def test_cp1251_fallback_matches_utf8_twin(self, spark, tmp_path):
        """O-1 encoding cascade: the same Ukrainian text written as cp1251
        and as UTF-8 must ingest to identical strings (reference
        file_handlers.py:107-183)."""
        from uk_ner_presidio_demo_spark.sources.files import read_text_files

        text = "Іван Петренко живе у Києві. Телефон: +380501234567."
        (tmp_path / "utf8.txt").write_bytes(text.encode("utf-8"))
        (tmp_path / "legacy.txt").write_bytes(text.encode("cp1251"))
        rows = {
            r["conv_id"]: r["text"]
            for r in read_text_files(spark, str(tmp_path)).collect()
        }
        assert rows["legacy.txt"] == rows["utf8.txt"] == text

    @staticmethod
    def _write_docx(path, paragraphs):
        import zipfile

        ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
        body = "".join(
            f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs
        )
        doc = (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<w:document xmlns:w="{ns}"><w:body>{body}</w:body>'
            f"</w:document>"
        )
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.'
                'openxmlformats.org/package/2006/content-types"/>',
            )
            zf.writestr("word/document.xml", doc)

    def test_docx_ingest_roundtrips_through_detect(self, spark, tmp_path):
        """O-2: stdlib zip+XML DOCX parse — paragraphs stripped, empties
        dropped, joined '\\n\\n' (reference file_handlers.py:185-223) —
        then straight through the detection DAG."""
        from uk_ner_presidio_demo_spark.operators.detect import (
            detect_turns, mentions_from_turns,
        )
        from uk_ner_presidio_demo_spark.sources.files import read_docx_files

        self._write_docx(
            tmp_path / "report.docx",
            ["Іван Петренко працює в Києві.", "", "  ",
             "Email: test@example.com"],
        )
        df = read_docx_files(spark, str(tmp_path))
        rows = df.collect()
        assert len(rows) == 1
        assert rows[0]["text"] == (
            "Іван Петренко працює в Києві.\n\nEmail: test@example.com"
        )
        m = mentions_from_turns(detect_turns(df)).toPandas()
        assert {"PERS", "LOC", "EMAIL_ADDRESS"} <= set(m["entity_type"])

    def test_mixed_directory_dispatch(self, spark, tmp_path):
        """O-3: extension dispatch over a mixed directory; unsupported
        extensions never enter the scan (glob-filtered)."""
        from uk_ner_presidio_demo_spark.sources.files import read_documents

        (tmp_path / "a.txt").write_text("Київ", encoding="utf-8")
        self._write_docx(tmp_path / "b.docx", ["Львів"])
        (tmp_path / "c.pdf").write_bytes(b"%PDF-1.4 not supported")
        got = {
            r["conv_id"]: r["text"]
            for r in read_documents(spark, str(tmp_path)).collect()
        }
        assert got == {"a.txt": "Київ", "b.docx": "Львів"}

    def test_unsupported_extension_raises(self):
        from uk_ner_presidio_demo_spark.sources.files import (
            parse_document_bytes,
        )

        with pytest.raises(ValueError, match="unsupported"):
            parse_document_bytes("x.pdf", b"")
