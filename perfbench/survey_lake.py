"""Seeded FlatConnect-shaped survey lake with per-column ground truth.

Every table is all-STRING, keyed by ``Connect_ID``, and built from named
column classes whose expected treatment by the four service endpoints is
decided here, from how each name was constructed:

* ``plain``      ``D_<cid>``                    -> ``d_<cid>``
* ``binary``     ``D_<cid>`` holding 0/1/''/NULL -> recoded to Yes/No CIDs
* ``false_array`` ``d_<a>_d_<a>[_<k>]``         -> ``[<cid>]`` unwrapped
* ``loop``       ``D_<a>_<n>_<n>_D_<b>_<n>[_<n>]`` (optionally ``_v<k>``
  after ``<a>``) -> COALESCE of the group into ``d_<a>_d_<b>_<n>[_v<k>]``
* ``version``    ``D_<a>_V<k>_D_<b>``           -> ``d_<a>_d_<b>_v<k>``
* ``substring``  ``state_d_<a>`` / ``D_<a>_num`` -> ``d_<a>``, and
  ``D_<c>`` + ``D_<c>_num`` -> COALESCE into ``d_<c>``
* ``impure``     misnamed / forbidden names      -> dropped
* ``sensitive``  the 17 sensitive-tier CIDs      -> passed through

The program under test only ever sees the parquet files written by
:func:`write_lake`; :mod:`perfbench.checks` compares its outputs against
the :class:`TableTruth` records kept here.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: Reference semantics of the binary recode (Yes / No concept IDs).
YES_CID = "353358909"
NO_CID = "104430631"
#: The restricted-tier columns every Connect participant table carries.
SENSITIVE_CIDS = [
    "849518448", "684926335", "253532712", "119643471", "706256705",
    "435027713", "827220437", "699625233", "919254129", "558435199",
    "878865966", "684635302", "167958071", "949302066", "536735468",
    "663265240", "976570371",
]
#: Concept-ID pairs of known false-array questions (public reference list).
FALSE_ARRAY_CIDS = [
    "236590500", "537137982", "640010727", "869387390",
    "178774803", "354326265", "422714611", "628078826",
]
FALSE_ARRAY_VALUES = ["[]", "[178420302]", "[958239616]"]

DATASET = "FlatConnect"
PROJECT = "bench"


@dataclass
class TableTruth:
    """One generated table plus what each endpoint must make of it."""

    fq: str
    columns: list[str]
    data: dict[str, list]
    #: column -> name class (key, sensitive, false_array, binary, loop,
    #: version, substring, plain, impure)
    classes: dict[str, str]
    #: clean_columns: output name -> source columns in COALESCE order
    clean_columns: dict[str, list[str]] = field(default_factory=dict)

    def recode(self, column: str) -> str:
        """What clean_rows does to ``column``: binary, false_array or pass."""
        cls = self.classes[column]
        return cls if cls in ("binary", "false_array") else "pass"

    @property
    def merge_excluded(self) -> set[str]:
        """Columns merge_table_versions must drop before merging."""
        return {c for c, cls in self.classes.items() if cls == "impure"}


class _Namer:
    """Hands out distinct 9-digit concept IDs that collide with no fixed
    CID (sensitive, false-array, Yes/No) and no earlier draw."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.used = set(SENSITIVE_CIDS) | set(FALSE_ARRAY_CIDS) | {YES_CID, NO_CID}

    def cid(self) -> str:
        while True:
            c = str(self.rng.randrange(100_000_000, 1_000_000_000))
            if c not in self.used:
                self.used.add(c)
                return c


class _TableBuilder:
    def __init__(self, rng: random.Random, ids: list[str]):
        self.rng = rng
        self.n = len(ids)
        self.columns: list[str] = ["Connect_ID"]
        self.data: dict[str, list] = {"Connect_ID": ids}
        self.truth_cc: dict[str, list[str]] = {"Connect_ID": ["Connect_ID"]}
        self.classes: dict[str, str] = {"Connect_ID": "key"}
        self.codes = [str(rng.randrange(100_000_000, 1_000_000_000)) for _ in range(12)]

    def _values(self, pool: list, null_p: float, first) -> list:
        """``n`` values from ``pool`` with NULLs; row 0 is ``first`` so no
        non-binary column can be all-NULL (which would profile as binary)."""
        r = self.rng
        vals = [None if r.random() < null_p else r.choice(pool) for _ in range(self.n)]
        vals[0] = first
        return vals

    def add(self, name: str, values: list, cls: str, cc_out: str | None = None):
        self.columns.append(name)
        self.data[name] = values
        self.classes[name] = cls
        if cc_out is not None:
            self.truth_cc.setdefault(cc_out, []).append(name)

    def text(self, null_p: float = 0.3) -> list:
        return self._values(self.codes, null_p, self.codes[0])

    def shuffled(self) -> list[str]:
        """Source column order: Connect_ID first, the rest seed-shuffled.
        COALESCE groups follow this order, so truth is re-derived from it."""
        rest = self.columns[1:]
        self.rng.shuffle(rest)
        return ["Connect_ID"] + rest


def _survey_table(rng: random.Random, namer: _Namer, fq: str, ids: list[str],
                  width: int) -> TableTruth:
    """A wide participant table of roughly ``width`` columns mixing every
    name class in fixed proportions."""
    b = _TableBuilder(rng, ids)
    for cid in SENSITIVE_CIDS:
        b.add(f"d_{cid}", b.text(0.1), "sensitive", f"d_{cid}")
    for i, cid in enumerate(FALSE_ARRAY_CIDS):
        for name in (f"d_{cid}_d_{cid}", f"d_{cid}_d_{cid}_{i + 2}"):
            vals = b._values(FALSE_ARRAY_VALUES, 0.3, "[178420302]")
            b.add(name, vals, "false_array", name)
    budget = max(width - len(b.columns), 40)
    # per-class shares of the remaining width
    n_binary = budget * 30 // 100
    n_loop_groups = budget * 10 // 100
    n_version = budget * 8 // 100
    n_substr = budget * 8 // 100
    n_impure = 3
    n_plain = budget - n_binary - 2 * n_loop_groups - n_version - n_substr - n_impure
    for j in range(n_binary):
        cid = namer.cid()
        vals = b._values(["0", "1", ""], 0.2, "1")
        if j == 0:
            vals = [None] * b.n  # an all-NULL column is binary by definition
        b.add(f"D_{cid}", vals, "binary", f"d_{cid}")
    for j in range(n_loop_groups):
        a, c, n = namer.cid(), namer.cid(), 1 + j % 9
        ver = f"_v{2 + j % 3}" if j % 3 == 0 else ""
        out = f"d_{a}_d_{c}_{n}{ver}"
        for name in (f"D_{a}{ver}_{n}_{n}_D_{c}_{n}", f"D_{a}{ver}_{n}_{n}_D_{c}_{n}_{n}"):
            b.add(name, b._values(b.codes, 0.5, b.codes[1]), "loop", out)
    for j in range(n_version):
        a, c, k = namer.cid(), namer.cid(), 2 + j % 3
        b.add(f"D_{a}_V{k}_D_{c}", b.text(), "version", f"d_{a}_d_{c}_v{k}")
    for j in range(n_substr):
        a = namer.cid()
        if j % 3 == 0:
            b.add(f"state_d_{a}", b.text(), "substring", f"d_{a}")
        elif j % 3 == 1:
            b.add(f"D_{a}_num", b.text(), "substring", f"d_{a}")
        else:
            # plain + _num collision: the plain column wins the COALESCE
            b.add(f"D_{a}", b.text(0.5), "substring", f"d_{a}")
            b.add(f"D_{a}_num", b.text(), "substring", f"d_{a}")
    for j in range(n_plain):
        cid = namer.cid()
        b.add(f"D_{cid}", b.text(), "plain", f"d_{cid}")
    b.add(f"D_{namer.cid()}_SIBCANC3O_D_{namer.cid()}", b.text(), "impure")
    b.add("token", b.text(), "impure")
    b.add("siteAcronym", b.text(), "impure")

    order = b.shuffled()
    rank = {c: i for i, c in enumerate(order)}
    substr_cols = {c for c in order if "_num" in c or "state_" in c}
    cc = {}
    for out, srcs in b.truth_cc.items():
        if len(srcs) > 1 and any(s in substr_cols for s in srcs):
            # substring collisions: fewest excised substrings first
            srcs = sorted(srcs, key=lambda s: (s in substr_cols, rank[s]))
        else:
            srcs = sorted(srcs, key=rank.__getitem__)
        cc[out] = srcs
    return TableTruth(fq, order, b.data, b.classes, cc)


def _version_table(rng: random.Random, fq: str, ids: list[str], common: list[str],
                   own: list[str], upper: set[str]) -> TableTruth:
    """One version of a module for the merge: shared and own columns,
    some shared names in upper case (merge matches case-insensitively),
    plus one excluded name."""
    b = _TableBuilder(rng, ids)
    for cid in common + own:
        name = f"D_{cid}" if cid in upper else f"d_{cid}"
        b.add(name, b.text(0.4), "plain")
    b.add("token", b.text(), "impure")
    order = b.shuffled()
    return TableTruth(fq, order, b.data, b.classes)


@dataclass
class SurveyLake:
    root: str
    wide: list[TableTruth]
    versions: list[TableTruth]


def table_path(root: str, fq: str) -> str:
    project, dataset, table = fq.split(".")
    return os.path.join(root, project, dataset, f"{table}.parquet")


def generate(seed: int, root: str, widths: tuple[int, ...], rows: int,
             version_width: int) -> SurveyLake:
    """Build the lake's truth records (no I/O; see :func:`write_lake`)."""
    rng = random.Random(seed)
    namer = _Namer(rng)

    def ids(k: int) -> list[str]:
        return [str(x) for x in rng.sample(range(1_000_000_000, 9_999_999_999), k)]

    wide = [
        _survey_table(rng, namer, f"{PROJECT}.{DATASET}.module{i + 1}_v1_survey", ids(rows), w)
        for i, w in enumerate(widths)
    ]
    # two versions over overlapping participants: 3/4 of v1 reappear in v2
    v1_ids = ids(rows)
    v2_ids = rng.sample(v1_ids, rows * 3 // 4) + ids(rows - rows * 3 // 4)
    common = [namer.cid() for _ in range(version_width // 2)]
    upper = set(rng.sample(common, len(common) // 4))
    own1 = [namer.cid() for _ in range(version_width // 4)]
    own2 = [namer.cid() for _ in range(version_width // 4)]
    versions = [
        _version_table(rng, f"{PROJECT}.{DATASET}.module_merge_v1", v1_ids, common, own1, upper),
        _version_table(rng, f"{PROJECT}.{DATASET}.module_merge_v2", v2_ids, common, own2, set()),
    ]
    return SurveyLake(root, wide, versions)


def write_lake(lake: SurveyLake) -> None:
    """Write every table as one all-STRING parquet file."""
    for t in lake.wide + lake.versions:
        path = table_path(lake.root, t.fq)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        arrays = [pa.array(t.data[c], type=pa.string()) for c in t.columns]
        pq.write_table(pa.Table.from_arrays(arrays, names=t.columns), path)
