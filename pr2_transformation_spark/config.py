"""Constant registries driving the cleaning pipeline.

These are *data*, not logic: name allow/deny lists, substring filters,
one-off rename maps, custom transform registry, and the false-array value
domain.  Values mirror the reference configuration so that cleaning output is
identical (/root/reference/core/constants.py:21-186).  Loaded on the driver;
never shipped to executors (all decisions are made against column *names*).
"""

from __future__ import annotations

import json
import os
from typing import Optional

# ---------------------------------------------------------------------------
# Name filtering (/root/reference/core/constants.py:21-47)
# ---------------------------------------------------------------------------

#: Whole names that are allowed despite carrying no concept ID.
ALLOWED_NON_CID_VARIABLE_NAMES = ["connect_id"]

#: Whole names dropped outright: operational fields with no research value.
FORBIDDEN_NON_CID_VARIABLE_NAMES = [
    "token", "uid", "date", "sha", "siteAcronym", "utm_source", "verifiedSeen",
    "id", "pin", "state_studyId", "state_uid", "firstSurveyCompletedSeen",
]

#: Literal substrings excised from names during cleanup (order matters).
SUBSTRINGS_TO_FIX = ["_num", "state_"]

#: Tokens tolerated by the purity check even though they are not CIDs.
ALLOWED_NON_CID_SUBSTRINGS = ["num", "state"]

#: Substring markers of datatype-conflicted columns (dropped for now).
SUBSTRINGS_DATATYPE_CONFLICT = ["provided", "string", "integer", "entity"]

#: Substring markers of misnamed variables (handled by one-off renames,
#: excluded from generic processing).
SUBSTRINGS_MISSNAMED = [
    "sibcanc3d", "chol", "momcanc3d", "sibcanc3o", "uf", "dadcanc3k",
    "bloodclot", "depress2", "htn", "append", "tublig", "tonsils",
    "breastdis", "dm2", "20required",
]

#: Union used by the column-exclusion pass.
EXCLUDED_NON_CID_SUBSTRINGS = list(SUBSTRINGS_DATATYPE_CONFLICT + SUBSTRINGS_MISSNAMED)

# ---------------------------------------------------------------------------
# Recode concept IDs (/root/reference/core/utils.py:437-466)
# ---------------------------------------------------------------------------

YES_CID = "353358909"
NO_CID = "104430631"

# ---------------------------------------------------------------------------
# False arrays (/root/reference/core/constants.py:52-67)
# ---------------------------------------------------------------------------

#: The only values a strict "false array" column may hold (besides NULL).
FALSE_ARRAY_VALUES = ["[]", "[178420302]", "[958239616]"]

#: Regex for a single bracketed 9-digit concept ID value.
BRACKETED_NINE_DIGIT_PATTERN = r"^\[\d{9}\]$"

#: Default path of the false-array concept-pair reference file.
FALSE_ARRAY_COLUMN_CONFIG = os.path.join(
    os.path.dirname(__file__), "reference_data", "false_array_columns.json"
)


def load_false_array_reference(path: Optional[str] = None) -> list[list[str]]:
    """Load concept-ID pairs naming known false-array columns.

    Accepts both a bare JSON list of pairs and a ``{"concept_id_pairs":
    [...]}`` wrapper with metadata.  Parity:
    /root/reference/core/utils.py:468-503.
    """
    with open(path or FALSE_ARRAY_COLUMN_CONFIG) as fh:
        data = json.load(fh)
    if isinstance(data, list):
        return data
    if isinstance(data, dict) and "concept_id_pairs" in data:
        return data["concept_id_pairs"]
    raise ValueError(f"unrecognized false-array reference format in {path}")


# ---------------------------------------------------------------------------
# One-off column renames (/root/reference/core/constants.py:76-153)
# ---------------------------------------------------------------------------
# Keyed by "dataset.table".  Each entry maps a misnamed source column to its
# corrected concept-ID name.  Several sources may share one target; the
# clean_columns builder then emits a COALESCE over the group.

def _renames(pairs: list[tuple[str, str]]) -> list[dict[str, str]]:
    return [{"source": s, "target": t} for s, t in pairs]


_MODULE1_SHARED_AGE_YEAR_FIXES: list[tuple[str, str]] = [
    ("D_150352141_D_206625031", "d_150352141_d_623218391"),
    ("D_150352141_D_261863326", "d_150352141_d_802622485"),
    ("D_122887481_D_206625031", "d_122887481_d_623218391"),
    ("D_122887481_D_261863326", "d_122887481_d_802622485"),
    ("D_534007917_D_206625031", "d_534007917_d_623218391"),
    ("D_534007917_D_261863326", "d_534007917_d_802622485"),
    ("D_752636038_D_206625031", "d_752636038_d_623218391"),
    ("D_752636038_D_261863326", "d_752636038_d_802622485"),
    ("D_518750011_D_206625031", "d_518750011_d_623218391"),
    ("D_518750011_D_261863326", "d_518750011_d_802622485"),
    ("D_275770221_D_206625031", "d_275770221_d_623218391"),
    ("D_275770221_D_261863326", "d_275770221_d_802622485"),
    ("D_527057404_D_206625031", "d_527057404_d_623218391"),
    ("D_527057404_D_261863326", "d_527057404_d_802622485"),
]

ONE_OFF_COLUMN_RENAME_MAPPINGS: dict[str, list[dict[str, str]]] = {
    "FlatConnect.module1_v1_JP": _renames(
        [
            ("D_122887481_TUBLIG_D_232595513", "d_122887481_d_623218391"),
            ("D_122887481_TUBLIG_D_614366597", "d_122887481_d_802622485"),
            ("D_259089008_1_1_SIBCANC3O_D_230633094_1", "d_259089008_d_206625031_1"),
            ("D_259089008_1_1_SIBCANC3O_D_962468280_1", "d_259089008_d_261863326_1"),
            ("D_301414575_DEPRESS2_D_479548517", "d_301414575_d_261863326"),
            ("D_301414575_DEPRESS2_D_591959654", "d_301414575_d_206625031"),
            ("D_301679110_DM2_D_166195719", "d_301679110_d_261863326"),
            ("D_301679110_DM2_D_861769692", "d_301679110_d_206625031"),
            ("D_355472178_BREASTDIS_D_138780721", "d_619481697_d_261863326"),
            ("D_355472178_BREASTDIS_D_162512268", "d_619481697_d_206625031"),
            ("D_367884741_TONSILS_D_300754548", "d_367884741_d_623218391"),
            ("D_367884741_TONSILS_D_714712574", "d_367884741_d_802622485"),
            ("D_370198527_DADCANC3K_D_260972338", "d_370198527_d_206625031"),
            ("D_370198527_DADCANC3K_D_331562964", "d_370198527_d_261863326"),
            ("D_402548942_MOMCANC3D_D_388289687", "d_402548942_d_206625031"),
            ("D_402548942_MOMCANC3D_D_734800333", "d_402548942_d_261863326"),
            ("D_460062034_BLOODCLOT_D_497018554", "d_460062034_d_206625031"),
            ("D_460062034_BLOODCLOT_D_694594047", "d_460062034_d_261863326"),
            ("D_550075233_APPEND_D_727704681", "d_550075233_d_802622485"),
            ("D_550075233_APPEND_D_919193251", "d_550075233_d_623218391"),
            ("D_836890480_CHOL_D_470282814", "d_836890480_d_261863326"),
            ("D_836890480_CHOL_D_637556277", "d_836890480_d_206625031"),
            ("D_846786840_UF_D_351965599", "d_846786840_d_261863326"),
            ("D_846786840_UF_D_895115511", "d_846786840_d_206625031"),
            ("D_884793537_HTN_D_367670682", "d_884793537_d_206625031"),
            ("D_884793537_HTN_D_608469482", "d_884793537_d_261863326"),
            ("D_907590067_4_4_SIBCANC3O_D_650332509_4", "d_907590067_d_261863326_4"),
            ("D_907590067_4_4_SIBCANC3D_D_932489634_4", "d_907590067_d_206625031_4"),
        ]
        + _MODULE1_SHARED_AGE_YEAR_FIXES
    ),
    "FlatConnect.module1_v2_JP": _renames(_MODULE1_SHARED_AGE_YEAR_FIXES),
    "FlatConnect.covid19Survey_v1_JP": _renames(
        [(f"d_71558179_v2_{i}_{i}", f"d_715581797_{i}_v2") for i in range(1, 11)]
    ),
}

# ---------------------------------------------------------------------------
# Custom transforms (/root/reference/core/constants.py:157-186)
# ---------------------------------------------------------------------------
# Each template is a callable (source, target) -> Spark-SQL SELECT fragment
# aliased to the target, as in the reference registry.  The target travels in
# the spec, so nothing re-parses the trailing ``AS <name>`` the way the
# reference does (reference core/transformations.py:413).


def _age_extract(source: str, target: str) -> str:
    """1-3 digit string in [0, 125] -> LONG, else NULL."""
    return (
        f"CASE WHEN `{source}` RLIKE '^\\\\d{{1,3}}$' "
        f"AND TRY_CAST(`{source}` AS LONG) BETWEEN 0 AND 125 "
        f"THEN TRY_CAST(`{source}` AS LONG) ELSE NULL END AS `{target}`"
    )


def _year_extract(source: str, target: str) -> str:
    """Exactly-4-digit string -> LONG, else NULL."""
    return (
        f"CASE WHEN `{source}` RLIKE '^\\\\d{{4}}$' "
        f"THEN TRY_CAST(`{source}` AS LONG) ELSE NULL END AS `{target}`"
    )


CUSTOM_TRANSFORMS: dict[str, list[dict]] = {
    "FlatConnect.module1_v2_JP": [
        {
            "source": "D_317093647",
            "target": "D_317093647_D_623218391",
            "transform_template": _age_extract,
        },
        {
            "source": "D_317093647",
            "target": "D_317093647_D_802622485",
            "transform_template": _year_extract,
        },
    ]
}


def validate_custom_transforms(registry: dict) -> None:
    """Validate the custom-transform registry shape before rendering.

    Parity: reference core/transform_renderer.py:6-42 — the registry
    is {table: [{source, target, transform_template}]} and malformed entries
    raise ``ValueError``.
    """
    if not isinstance(registry, dict):
        raise ValueError("custom-transform registry must be a dict of table -> spec list")
    for table, specs in registry.items():
        if not isinstance(table, str) or not table:
            raise ValueError(f"invalid table identifier in registry: {table!r}")
        if not isinstance(specs, list):
            raise ValueError(f"registry entry for {table!r} must be a list of specs")
        for spec in specs:
            if not isinstance(spec, dict):
                raise ValueError(f"spec for {table!r} must be a dict, got {type(spec).__name__}")
            for key in ("source", "target"):
                if not isinstance(spec.get(key), str) or not spec.get(key):
                    raise ValueError(f"spec for {table!r} missing non-empty {key!r}")
            if not callable(spec.get("transform_template")):
                raise ValueError(f"spec for {table!r} field 'transform_template' must be callable")


# ---------------------------------------------------------------------------
# Sensitive tier (/root/reference/core/transformations.py:792-797)
# ---------------------------------------------------------------------------

SENSITIVE_TIER_COLUMNS = [
    "Connect_ID",
    "d_849518448", "d_684926335", "d_253532712", "d_119643471", "d_706256705",
    "d_435027713", "d_827220437", "d_699625233", "d_919254129", "d_558435199",
    "d_878865966", "d_684635302", "d_167958071", "d_949302066", "d_536735468",
    "d_663265240", "d_976570371",
]
