"""Round-2 operators: single-class fast path, per-class thresholds,
config-driven structured compare, converter analogs, YAML ladder,
Hungarian reference parity."""

import pytest
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark.kernel.json_extract import (
    detect_format,
    extract_structured,
)
from accelerated_intelligent_document_processing_on_aws_spark.kernel.strings import (
    hungarian_compare,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators import (
    segmentation as seg,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.evaluation import (
    configured_attribute_eval,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
    alerts_with_thresholds,
)
from accelerated_intelligent_document_processing_on_aws_spark.sources import converters


class TestSingleClassFastPath:
    def test_one_section_per_conv_confidence_one(self, spark):
        turns = spark.createDataFrame(
            [("c1", 0), ("c1", 2), ("c1", 1), ("c2", 5)],
            "conv_id string, turn_idx int",
        )
        out = {r["conv_id"]: r for r in seg.single_class_sections(turns, "invoice").collect()}
        assert out["c1"]["section_id"] == 1
        assert out["c1"]["classification"] == "invoice"
        assert out["c1"]["turn_idxs"] == [0, 1, 2]
        assert out["c1"]["confidence"] == 1.0
        assert out["c2"]["n_turns"] == 1

    def test_plan_has_no_udf_or_classifier(self, spark):
        turns = spark.createDataFrame([("c1", 0)], "conv_id string, turn_idx int")
        plan = seg.single_class_sections(turns, "x")._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan  # pure projection + hash agg


class TestPerClassThresholds:
    def test_threshold_dispatch_and_default(self, spark):
        rows = spark.createDataFrame(
            [("c", 0, "click", 0.35), ("c", 1, "click", 0.45),
             ("c", 2, "other", 0.45), ("c", 3, "other", 0.55)],
            "conv_id string, turn_idx int, classification string, confidence double",
        )
        thr = spark.createDataFrame([("click", 0.4)], "classification string, threshold double")
        got = {r["turn_idx"]: r for r in alerts_with_thresholds(rows, thr, 0.5).collect()}
        assert set(got) == {0, 2}  # 0.35<0.4 click; 0.45<0.5 default
        assert got[0]["confidence_threshold"] == 0.4
        assert got[2]["confidence_threshold"] == 0.5


class TestConfiguredCompare:
    def test_unexpected_and_autoconfig_flags(self, spark):
        pairs = spark.createDataFrame(
            [
                ("d1", "invoice", "amount", "$5.00", "5.00"),
                ("d1", "invoice", "surprise", None, "val"),
                ("d1", "invoice", "memo", "hello world", "helo world"),
            ],
            "doc_id string, classification string, attribute_name string, "
            "expected string, actual string",
        )
        cfg = spark.createDataFrame(
            [("invoice", "amount", "NUMERIC_EXACT", 0.8, 2.0),
             ("invoice", "memo", "FUZZY", 0.7, 1.0)],
            "classification string, attribute_name string, evaluation_method string, "
            "threshold double, weight double",
        )
        got = {r["attribute_name"]: r for r in configured_attribute_eval(pairs, cfg).collect()}
        assert got["amount"]["matched"] and got["amount"]["weight"] == 2.0
        assert got["surprise"]["auto_configured"] and got["surprise"]["unexpected"]
        assert not got["surprise"]["matched"]
        assert got["memo"]["matched"]  # fuzzy 0.9 >= 0.7
        assert 0.8 < got["memo"]["score"] < 1.0
        assert not got["memo"]["auto_configured"]


class TestConverterAnalogs:
    def test_sheets_to_markdown_layout(self, spark):
        rows = spark.createDataFrame(
            [("s1", 2, "b"), ("s1", 1, "a"), ("s2", 1, "z")],
            "sheet string, ord int, val string",
        )
        got = {
            r["sheet_name"]: r
            for r in converters.sheets_to_markdown(rows, "sheet", "ord", ["ord", "val"]).collect()
        }
        assert got["s1"]["page_text"] == (
            "| ord | val |\n| --- | --- |\n| 1 | a |\n| 2 | b |"
        )
        assert got["s1"]["n_rows"] == 2 and got["s2"]["n_rows"] == 1

    def test_word_elements_types(self, spark):
        docs = spark.createDataFrame(
            [(1, "# Title\nbody text\n\n## Sub")], "id long, body string"
        )
        got = {r["elem_idx"]: r for r in converters.word_elements(docs, "id", "body").collect()}
        assert [got[i]["elem_type"] for i in (1, 2, 3, 4)] == [
            "heading", "paragraph", "spacing", "heading",
        ]
        assert got[1]["heading_level"] == 1 and got[4]["heading_level"] == 2
        assert got[1]["content"] == "Title" and got[4]["content"] == "Sub"


class TestYamlLadder:
    @pytest.mark.parametrize(
        "text,want",
        [
            ('{"a": 1}', "json"),
            ("```json\n{}\n```", "json"),
            ("```yaml\na: 1\n```", "yaml"),
            ("--- \na: 1", "yaml"),
            ("key: value\nother: 2", "yaml"),
            ("- one\n- two", "yaml"),
            ("just words here", "unknown"),
            ("", "unknown"),
            (None, "unknown"),
        ],
    )
    def test_detect_format(self, text, want):
        assert detect_format(text) == want

    def test_yaml_reserializes_to_canonical_json(self):
        js, fmt = extract_structured("a: 1\nb:\n  c: x")
        assert fmt == "yaml"
        assert js == '{"a":1,"b":{"c":"x"}}'

    def test_json_preferred_when_both_parse(self):
        js, fmt = extract_structured('{"a": 1}')
        assert fmt == "json" and js == '{"a":1}'

    def test_falls_back_to_repair_ladder(self):
        js, fmt = extract_structured('prefix {"a": [1, 2')  # truncated JSON
        assert fmt == "json"
        assert js == '{"a":[1,2]}'


class TestHungarianReferenceParity:
    def test_single_value_early_return_keeps_raw_score(self):
        # reference comparator.py:266-269: below-threshold single pair
        # returns (0, 1, raw_score), NOT 0.0
        tp, fp, avg = hungarian_compare(["hello"], ["help"], "FUZZY", 0.9)
        assert (tp, fp) == (0, 1)
        assert 0.0 < avg < 0.9

    def test_avg_over_all_assigned_pairs(self):
        # 2 expected vs 2 actual, one exact match and one miss:
        # avg = (1.0 + 0.0) / 2 assigned pairs (reference :301)
        tp, fp, avg = hungarian_compare(["a", "b"], ["a", "zzz"], "EXACT", 0.8)
        assert (tp, fp) == (1, 1)
        assert avg == pytest.approx(0.5)

    def test_empty_edges(self):
        assert hungarian_compare([], [], "EXACT", 0.8) == (0, 0, 1.0)
        assert hungarian_compare([], ["x"], "EXACT", 0.8) == (0, 1, 0.0)
        assert hungarian_compare(["x"], [], "EXACT", 0.8) == (0, 0, 0.0)


class TestJsonOpsRound2:
    def test_convert_to_list_reference_parity(self):
        from accelerated_intelligent_document_processing_on_aws_spark.kernel.strings import (
            convert_to_list,
        )

        assert convert_to_list(None) == []
        assert convert_to_list(["a", 1]) == ["a", "1"]
        assert convert_to_list("['x', 'y']") == ["x", "y"]
        assert convert_to_list("[1, 2]") == ["1", "2"]
        assert convert_to_list("[broken") == ["[broken"]
        assert convert_to_list("plain") == ["plain"]
        assert convert_to_list(42) == ["42"]

    def test_string_to_list_column(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators.jsonops import (
            string_to_list,
        )

        df = spark.createDataFrame(
            [(1, '["a", "b"]'), (2, "scalar"), (3, None), (4, "[]"), (5, "[1, 2]")],
            "id int, v string",
        )
        got = {r["id"]: r["lst"] for r in df.select("id", string_to_list("v").alias("lst")).collect()}
        assert got[1] == ["a", "b"]
        assert got[2] == ["scalar"]
        assert got[3] == []
        assert got[4] == []
        assert got[5] == ["1", "2"]

    def test_empty_schema_gate_split(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators.jsonops import (
            empty_schema_gate,
        )

        sections = spark.createDataFrame(
            [("c1", 1, "invoice"), ("c1", 2, "mystery"), ("c2", 1, "invoice")],
            "conv_id string, section_id int, classification string",
        )
        cfg = spark.createDataFrame(
            [("invoice", "amount")], "classification string, attribute_name string"
        )
        to_extract, skipped = empty_schema_gate(sections, cfg)
        assert to_extract.count() == 2
        sk = skipped.collect()
        assert len(sk) == 1 and sk[0]["classification"] == "mystery"
        assert sk[0]["skipped_due_to_empty_attributes"] is True
        assert sk[0]["inference_result"] == "{}" and sk[0]["input_tokens"] == 0

    def test_flatten_struct_dot_columns(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators.jsonops import (
            flatten_struct,
        )

        df = spark.createDataFrame([(1, ((2, 3), 4))], "id int, a struct<b: struct<c: int, d: int>, e: int>")
        out = flatten_struct(df)
        assert out.columns == ["id", "a.b.c", "a.b.d", "a.e"]
        row = out.collect()[0]
        assert (row["id"], row["a.b.c"], row["a.b.d"], row["a.e"]) == (1, 2, 3, 4)


class TestNameRegexFastPath:
    def test_first_match_wins_and_split(self, spark):
        turns = spark.createDataFrame(
            [("inv-1", 0), ("inv-1", 1), ("tkt-2", 0), ("other", 0)],
            "conv_id string, turn_idx int",
        )
        matched, unmatched = seg.name_regex_sections(
            turns, [("invoice", "1$"), ("support_ticket", "[12]$")]
        )
        got = {r["conv_id"]: r for r in matched.collect()}
        assert got["inv-1"]["classification"] == "invoice"  # first pattern wins
        assert got["tkt-2"]["classification"] == "support_ticket"
        assert got["inv-1"]["turn_idxs"] == [0, 1]
        assert got["inv-1"]["confidence"] == 1.0
        # unmatched conversations fall through to the classifier path
        assert [r["conv_id"] for r in unmatched.collect()] == ["other"]


class TestAdviceR2Fixes:
    """Round-2 advice items: quoted-comma list literals, simhash
    max_hamming=0, unconverged-cluster signalling."""

    def test_string_to_list_quoted_commas(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators.jsonops import (
            string_to_list,
        )

        df = spark.createDataFrame(
            [
                (1, '["a,b"]'),          # JSON, comma inside quotes
                (2, '["a,b", "c"]'),
                (3, "['a,b']"),          # python-repr single quotes
                (4, "[a, b]"),           # unquoted: commas separate
            ],
            "id int, v string",
        )
        got = {
            r["id"]: r["lst"]
            for r in df.select("id", string_to_list("v").alias("lst")).collect()
        }
        assert got[1] == ["a,b"]
        assert got[2] == ["a,b", "c"]
        assert got[3] == ["a,b"]
        assert got[4] == ["a", "b"]

    def test_simhash_max_hamming_zero(self, spark):
        """max_hamming=0 (exact-fingerprint dedup) must plan and run:
        width-64 chunk masking used to overflow LongType."""
        from accelerated_intelligent_document_processing_on_aws_spark.operators.dedup import (
            simhash_pairs,
        )

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different text about spark shuffles and joins")],
            "doc_id int, text string",
        )
        rows = simhash_pairs(df, max_hamming=0).collect()
        got = {(r["id_a"], r["id_b"]) for r in rows}
        assert (1, 2) in got or (2, 1) in got
        assert all(r["hamming"] == 0 for r in rows)
