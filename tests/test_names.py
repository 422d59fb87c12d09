"""Name-grammar unit tests.

The parametrized cases reproduce the reference's own unit-test spec
(/root/reference/test/test_utils.py:7-62) plus the loop-variable scenarios
from its stale SQL-composition tests
(/root/reference/test/test_query_composition.py:37-85,142-243), re-homed as
pure-function assertions.
"""

import pytest

from pr2_transformation_spark import names


@pytest.mark.parametrize(
    "name, expected",
    [
        ("d_123456789_d_987654321", ["123456789", "987654321"]),
        ("D_123456789_987654321", ["123456789"]),
        ("D_123412349_1_1_D_987654321_1_1", ["123412349", "987654321"]),
        ("d_999999999", ["999999999"]),
        ("D_812370563_1_1_D_812370563_1_1_D_665036297", ["812370563", "812370563", "665036297"]),
        ("D_812370563_1_1_D_812370563_V3_1_1_D_665036297", ["812370563", "812370563", "665036297"]),
        ("random_text", []),
    ],
)
def test_extract_concept_ids(name, expected):
    assert names.extract_concept_ids(name) == expected


@pytest.mark.parametrize(
    "name, expected",
    [
        ("d_123456789_1_1_d_987654321_1_1", 1),
        ("d_123456789_2_2_d_987654321_2_2", 2),
        ("d_111111111_1_1_d_222222222_1_1", 1),
        ("d_123456789_9_9_d_987654321_9_9", 9),
        ("d_123456789_9_9_d_987654321_9_9_9_9_9_9", 9),
        ("d_123456789_9_9_d_987654321_v1_9_9_9_9_9_9", 9),
        ("d_123456789_v3_9_9_d_987654321_9_9_9_9_9_9", 9),
        ("d_123456789_5_5", 5),
        ("d_123456789", None),
        ("d_111111111_12_12_d_222222222_12_12", 12),
    ],
)
def test_extract_loop_number(name, expected):
    assert names.extract_loop_number(name) == expected


def test_group_loop_variables():
    var_list = [
        "d_123456789_1_1_d_987654321_1_1",
        "d_123456789_2_2_d_987654321_2_2",
        "d_111111111_1_1_d_222222222_1_1_v1",
        "d_123456789_9_9_d_987654321_9_9",
        "d_123456789_9_9_d_987654321_9_9_9_9_9_9",
        "d_123456789_v3_5_5",
        "d_123456789",  # no loop number -> excluded
    ]
    expected = {
        (frozenset({"123456789", "987654321"}), 1, ""): ["d_123456789_1_1_d_987654321_1_1"],
        (frozenset({"123456789", "987654321"}), 2, ""): ["d_123456789_2_2_d_987654321_2_2"],
        (frozenset({"111111111", "222222222"}), 1, "_v1"): ["d_111111111_1_1_d_222222222_1_1_v1"],
        (frozenset({"123456789", "987654321"}), 9, ""): [
            "d_123456789_9_9_d_987654321_9_9",
            "d_123456789_9_9_d_987654321_9_9_9_9_9_9",
        ],
        (frozenset({"123456789"}), 5, "_v3"): ["d_123456789_v3_5_5"],
    }
    assert names.group_loop_variables(var_list) == expected


@pytest.mark.parametrize(
    "name, expected",
    [
        ("d_123456789_v2_1_1", "_v2"),
        ("d_123456789_V3_1_1", "_v3"),
        ("d_123456789_1_1", ""),
        ("D_191057574_V2", "_v2"),
    ],
)
def test_extract_version_suffix(name, expected):
    assert names.extract_version_suffix(name) == expected


@pytest.mark.parametrize(
    "name, expected",
    [
        ("D_191057574_V2", "D_191057574"),
        ("D_715581797_V3_1_1", "D_715581797_1_1"),
        ("D_899251483_V2_D_452438775", "D_899251483_D_452438775"),
    ],
)
def test_excise_version(name, expected):
    assert names.excise_version(name) == expected


@pytest.mark.parametrize(
    "name, pure",
    [
        ("D_869387390_11_11_D_478706011_11", True),
        ("D_907590067_4_4_SIBCANC3O_D_650332509_4", False),
        ("D_299417266_v2", True),
        ("Connect_ID", True),
        ("token", False),
        ("d_123456789_num", True),   # 'num' is an allowed non-CID token
        ("state_d_123456789", True),  # 'state' likewise
    ],
)
def test_is_pure_variable(name, pure):
    assert names.is_pure_variable(name) is pure


def test_standardize_column_case():
    assert names.standardize_column_case("Connect_ID") == "Connect_ID"
    assert names.standardize_column_case("D_123456789_V2") == "d_123456789_v2"


def test_excise_substrings():
    assert names.excise_substrings("state_d_706256705", ["_num", "state_"]) == "d_706256705"
    assert names.excise_substrings("d_684926335_num", ["_num", "state_"]) == "d_684926335"
    assert names.excise_substrings("state_d_684926335_num", ["_num", "state_"]) == "d_684926335"


def test_find_non_standard_concept_ids():
    found = names.find_non_standard_concept_ids(["d_12345678", "d_123456789", "d_1234567890_1"])
    assert ("d_12345678", "12345678", 8) in found
    assert ("d_1234567890_1", "1234567890", 10) in found
    assert all(cid != "123456789" for _, cid, _ in found)


# Canonical output names — the 7 loop scenarios from the reference's stale
# SQL-composition tests (test_query_composition.py:37-85) plus the pinned
# version-in-middle case (:242-243).
@pytest.mark.parametrize(
    "member, loop, version, expected",
    [
        ("d_123456789_1_1", 1, "", "d_123456789_1"),
        ("d_123456789_2_2", 2, "", "d_123456789_2"),
        ("d_123456789_v2_1_1", 1, "_v2", "d_123456789_1_v2"),
        ("d_123456789_3_3_d_987654321_3_3", 3, "", "d_123456789_d_987654321_3"),
        ("d_899251483_v2_d_812107266_6_6", 6, "_v2", "d_899251483_d_812107266_6_v2"),
        ("d_111111111_12_12_d_222222222_12_12", 12, "", "d_111111111_d_222222222_12"),
    ],
)
def test_canonical_loop_name(member, loop, version, expected):
    assert names.canonical_loop_name(member, loop, version) == expected


def test_canonical_nonloop_name_moves_version_to_end():
    assert names.canonical_nonloop_name("D_191057574_V2") == "d_191057574_v2"
    assert names.canonical_nonloop_name("d_987654321") == "d_987654321"


def test_column_exclusions():
    cols = ["Connect_ID", "token", "uid", "date", "d_123456789_provided",
            "d_123456789_string", "d_111111111", "D_355472178_BREASTDIS_D_138780721"]
    excluded = names.column_exceptions_to_exclude(cols)
    assert set(excluded) == {
        "token", "uid", "date", "d_123456789_provided", "d_123456789_string",
        "D_355472178_BREASTDIS_D_138780721",  # 'breastdis' is a misnamed marker
    }
    assert names.valid_column_names(cols) == ["Connect_ID", "d_111111111"]


def test_fix_impure_variable():
    assert (
        names.fix_impure_variable("D_259089008_SIBCANC3O", {"SIBCANC3O": "123456789"})
        == "D_259089008_D_123456789"
    )
    with pytest.raises(ValueError):
        names.fix_all_variables(["D_259089008_UNKNOWNWORD"], {})


# ---------------------------------------------------------------------------
# Custom-transform registry validation
# (parity: /root/reference/core/transform_renderer.py:6-42)
# ---------------------------------------------------------------------------

def test_validate_custom_transforms_accepts_builtin_registry():
    from pr2_transformation_spark import config
    config.validate_custom_transforms(config.CUSTOM_TRANSFORMS)


def test_validate_custom_transforms_rejects_malformed():
    import pytest
    from pr2_transformation_spark import config
    cases = [
        "not-a-dict",
        {"t": "not-a-list"},
        {"t": ["not-a-dict"]},
        {"t": [{"source": "", "target": "x",
                "transform_template": lambda s, t: ""}]},
        {"t": [{"source": "a", "target": "b",
                "transform_template": "not-callable"}]},
        {"t": [{"source": "a", "target": "b"}]},  # missing template
    ]
    for bad in cases:
        with pytest.raises(ValueError):
            config.validate_custom_transforms(bad)
