"""Seeded input generator for ``synth rebuild``.

Writes the parquet directories the ``rebuild`` CLI command reads: the nine
union-of-rounds source tables, the eight resource tables and the four
workbook sheets. Each of the ``blocks`` copies of the reference-shaped
fixture (tests/pipeline_fixtures.py) keeps every dirty-data trap it
encodes: a call order that differs from callID order, cross-round
specific-discipline dedup, a missing output type, a shared DOI and a DOI
with no metadata, dropped 'edit' and unknown-user projects, every
missing-country branch (exact, alternate name, split form, max
population, manual map, unmatched), and the score traps (0.00 and NULL
scores, a single scorer, a PK-ordered mode tie, round-4 totals). Blocks
use disjoint ids and names, so the parent-discipline and institution
country invariants hold and the row count of every output table is a
linear function of ``blocks``; ``expected_rows`` gives it.

The seed varies free text and the counts and scores no trap depends on.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_T = {
    "int": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}
D = dt.datetime


def _write(path: str, ddl: str, rows: list[tuple]) -> int:
    names, types = [], []
    for col in ddl.split(","):
        name, typ = col.split()
        names.append(name)
        types.append(_T[typ])
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    table = pa.table(
        {n: pa.array(list(c), t) for n, t, c in zip(names, types, cols)}
    )
    pq.write_table(table, path)
    return table.num_rows


def expected_rows(blocks: int) -> dict[str, int]:
    """Rows per rebuilt table for a generated input of ``blocks`` blocks.

    Round and Country come from shared round numbers and the country seed;
    every access-request sheet row of a dropped project lands in one NULL
    group of the view."""
    per_block = {
        "Call": 9,
        "Discipline": 3,
        "SpecificDiscipline": 3,
        "Output": 5,
        "Category": 2,
        "Institution": 2,
        "InstallationFacility": 2,
        "VisitorProject": 7,
        "AccessRequest": 4,
        "EvaluationScore": 49,
        "vw_project_access_requests": 2,
    }
    rows = {k: v * blocks for k, v in per_block.items()}
    rows.update(Round=4, Country=7)
    rows["vw_project_access_requests"] += 1
    return rows


def _sources(b: int, rng: random.Random) -> dict[str, tuple[str, list[tuple]]]:
    """Source rows of block ``b``. Ids are offset per block, per the
    fixture's round*100+i convention: calls/outputs/projects by 1000*b,
    users by 10000*b, disciplines by 10*b."""
    o, u, d = 1000 * b, 10000 * b, 10 * b
    sfx = "" if b == 0 else f" {b}"
    yr = lambda y: D(y, 1, 1) + dt.timedelta(days=rng.randrange(0, 180))  # noqa: E731
    calls = [
        (1, 101 + o, 1, D(2004, 1, 1), D(2004, 6, 30)),
        (1, 102 + o, 2, D(2004, 7, 1), D(2004, 12, 31)),
        (2, 202 + o, 1, D(2005, 1, 1), D(2005, 6, 30)),  # call order != callID order
        (2, 201 + o, 2, D(2005, 7, 1), D(2005, 12, 31)),
        (2, 203 + o, 3, D(2006, 1, 1), D(2006, 6, 30)),
        (3, 301 + o, 1, D(2009, 1, 1), D(2009, 6, 30)),
        (3, 302 + o, 2, D(2009, 7, 1), D(2009, 12, 31)),
        (4, 401 + o, 1, D(2013, 1, 1), D(2013, 6, 30)),
        (4, 402 + o, 2, D(2013, 7, 1), D(2013, 12, 31)),
    ]
    disciplines = [
        (r, i + d, n + sfx)
        for r in (1, 2, 3, 4)
        for i, n in [(1, "Botany"), (2, "Zoology"), (3, "Geology")]
    ]
    specific = [
        (4, 401 + o, "Mycology" + sfx, 1 + d),
        (4, 402 + o, "Entomology" + sfx, 2 + d),
        (2, 201 + o, "Mycology" + sfx, 1 + d),  # dedups into round-4 Mycology
        (1, 101 + o, "Palaeobotany" + sfx, 3 + d),
    ]
    title = lambda: f"Study {rng.randrange(10**6)}"  # noqa: E731
    outputs = [
        (1, 101 + o, 1001 + u, 1, "<i>Smith, J.</i> and  Jones,\r\nK.", "2004",
         "A  study of <b>things</b>.", "OldPub", "http://x.test/10.1234/abc.1",
         None, "10-20", None, None, 1),
        (1, 102 + o, 1002 + u, 2, "Brown, A.", "19998", title(), None, None,
         None, None, None, None, 2),  # year typo
        (2, 201 + o, 2001 + u, 99, "Lee, C.", None, title(), None, None,
         "doi:10.1234/abc.1", None, None, None, 1),  # missing output type
        (3, 301 + o, 3001 + u, 1, "", "2009", "  <p>Clean me</p> ", None, None,
         "10.5555/xyz.2", None, None, None, None),
        (4, 401 + o, 4001 + u, 1, None, None, None, None, None, None, None, None, None, 1),
    ]
    visits = lambda: rng.randrange(1, 6)  # noqa: E731
    stays = lambda: rng.randrange(1, 30)  # noqa: E731
    users = [
        (1, 1001 + u, "F", "PhD", "DE", None, 1 + d, None, None, "uni", "botany",
         "NHM <i>London</i>", "London", None, "N1", visits(), stays(), "no", "yes", "Dr"),
        (1, 1002 + u, "M", "Prof", "GB", None, 2 + d, 3 + d, None, "uni", "zoo",
         "Junk Inst", "London", "GB", "N2", visits(), stays(), "no", "no", "Prof"),
        (2, 2001 + u, "F", "PostDoc", None, None, 1 + d, None, None, "museum", None,
         "Unknown  Uni", "Köln", None, None, visits(), stays(), "yes", "no", "Dr"),
        (3, 3001 + u, "M", "PhD", "FR", None, 3 + d, None, None, "uni", None,
         "Some Inst", "Cambridge, UK", None, None, visits(), stays(), "no", "yes", "Mr"),
        (4, 4001 + u, "F", "Prof", "RU", None, 1 + d, 2 + d, 3 + d, "uni", None,
         "Another Inst", "Moscow", None, None, visits(), stays(), "no", "no", "Prof"),
        (4, 4002 + u, "M", "PhD", "PK", None, 2 + d, None, None, "uni", None,
         "Inst Pk", "Islamabad", None, None, visits(), stays(), "no", "no", "Dr"),
        (4, 4003 + u, "F", "PhD", None, None, 1 + d, None, None, "uni", None,
         "Inst X", "Nowhereville", None, None, visits(), stays(), "no", "no", "Ms"),
    ]
    stay = lambda: rng.randrange(3, 15)  # noqa: E731
    nil = (None,) * 8
    projects = [
        (1, 110 + o, 1001 + u, title(), "obj", "ach", "sum", "bg", "rsn", "exp", "out",
         "fac", stay(), yr(2004), yr(2004), 11, 1, "yes", 0, 1, 1, 0,
         "no", 1, 1, "submitted", "done", None, "NHM <i>London</i>", None,
         "Unknown  Uni", "Tue Mar 03 14:21:05 GMT 2009", 1 + d, 101 + o, "2"),
        (1, 111 + o, 1002 + u, "P-edit", *nil, stay(), None, None, 12, 0, None, 0, 0, 0, 0,
         None, 0, 0, "edit", None, None, None, None, None, "", 1 + d, None, "1"),
        (1, 112 + o, 1002 + u, title(), *nil, stay(), yr(2004), yr(2004), 13, 0, "no", 1, 0, 0, 1,
         "yes", 1, 0, "submitted", None, None, "Junk Inst", None, None,
         "Mon Jun 01 12:00:00 BST 2009", 2 + d, None, "1"),
        (2, 210 + o, 9999 + u, "P-ghost", *nil, stay(), None, None, 21, 0, None, 0, 0, 0, 0,
         None, 0, 0, "submitted", None, None, None, None, None, "", 1 + d, None, "1"),
        (2, 211 + o, 2001 + u, title(), *nil, stay(), yr(2006), yr(2006), 22, 1, "yes", 0, 1, 1, 1,
         "no", 1, 1, "submitted", None, None, None, None, None, "", 2 + d, 201 + o, "3"),
        (3, 310 + o, 3001 + u, title(), *nil, stay(), None, None, 31, 0, None, 0, 0, 0, 0,
         None, 0, 0, "submitted", None, None, None, None, None, "", 3 + d, None, "1"),
        (4, 410 + o, 4001 + u, title(), *nil, stay(), None, None, 41, 1, "yes", 1, 1, 1, 0,
         "no", 1, 1, "submitted", None, None, None, None, None, "", 1 + d, 401 + o, "1"),
        (4, 411 + o, 4002 + u, title(), *nil, stay(), None, None, 42, 0, None, 0, 0, 0, 0,
         None, 0, 0, "submitted", None, None, None, None, None, "", 2 + d, 402 + o, "2"),
        (4, 412 + o, 4003 + u, title(), *nil, stay(), None, None, 43, 0, None, 0, 0, 0, 0,
         None, 0, 0, "submitted", None, None, None, None, None, "", 1 + d, None, "1"),
    ]
    p = 100 * b
    s = lambda lo, hi: float(rng.randrange(lo, hi + 1))  # noqa: E731  (never 0)
    scores = [
        # 0.00 methodology (dropped by the falsy filter) and a NULL research score
        (1, 1 + p, 110 + o, 1, s(1, 30), s(1, 10), s(1, 10), s(1, 25), s(1, 10), s(1, 15), None, 1, None),
        (1, 2 + p, 110 + o, 2, 0.0, None, s(1, 10), s(1, 25), s(1, 10), s(1, 15), None, 1, None),
        # single scorer -> NULL stddev
        (1, 3 + p, 112 + o, 1, s(1, 30), s(1, 10), s(1, 10), s(1, 25), s(1, 10), s(1, 15), None, 1, None),
        # support scores 7,7,9,9: the mode is the first in PK order
        (2, 4 + p, 211 + o, 1, 20.0, 7.0, 7.0, 12.0, 6.0, 10.0, None, 1, None),
        (2, 5 + p, 211 + o, 2, 21.0, 8.0, 7.0, 13.0, 7.0, 11.0, None, 1, None),
        (2, 6 + p, 211 + o, 3, 22.0, 9.0, 9.0, 14.0, 8.0, 12.0, None, 1, None),
        (2, 7 + p, 211 + o, 4, 23.0, 6.0, 9.0, 15.0, 9.0, 13.0, None, 1, None),
        # round 4: Societal Challenge /5, Scientific Merit /10
        (4, 8 + p, 410 + o, 1, s(1, 30), s(1, 10), s(1, 10), s(1, 25), s(1, 10), s(1, 10), s(1, 5), 1, None),
        (4, 9 + p, 410 + o, 2, s(1, 30), s(1, 10), s(1, 10), s(1, 25), s(1, 10), s(1, 10), s(1, 5), 1, None),
    ]
    return {
        "NHM_Call": ("synth_round int, callID int, call int, dateOpen timestamp, dateClosed timestamp", calls),
        "NHM_Disciplines": ("synth_round int, DisciplineID int, DisciplineName string", disciplines),
        "NHM_Specific_Disciplines": (
            "synth_round int, SpecificDisciplineID int, SpecificDisciplineName string, DisciplineID int",
            specific,
        ),
        "NHM_Outputs": (
            "synth_round int, Output_ID int, User_ID int, OutputType_ID int, "
            "Authors string, Year string, Title string, Publisher string, URL string, "
            "Volume string, Pages string, Conference string, Degree string, "
            "PublicationStatus_ID int",
            outputs,
        ),
        "T_List_of_Users": (
            "synth_round int, User_ID int, Gender string, Researcher_status string, "
            "Nationality_Country_code string, Nationality_OtherText string, "
            "Discipline1 int, Discipline2 int, Discipline3 int, "
            "Home_Institution_Type string, Home_Institution_Dept string, "
            "Home_Institution_Name string, Home_Institution_Town string, "
            "Home_Institution_Country_code string, Home_Institution_Postcode string, "
            "Number_of_visits int, Duration_of_stays int, Remote_user string, "
            "Travel_and_Subsistence_reimbursed string, jobTitle string",
            users,
        ),
        "T_List_of_UserProjects": (
            "synth_round int, UserProject_ID int, User_ID int, UserProject_Title string, "
            "UserProject_Objectives string, UserProject_Achievements string, "
            "UserProject_Summary string, UserProject_Background string, "
            "UserProject_Reasons string, UserProject_Expectations string, "
            "UserProject_Outputs string, UserProject_Facility_Reasons string, "
            "length_of_visit int, start_date timestamp, finish_date timestamp, "
            "TAF_ID int, Home_Facilities int, Acceptance string, Group_leader int, "
            "New_User int, Support_Final int, Previous_Application int, "
            "Visit_Funded_Previously string, Support_Requested int, TAF_Host_Contacted int, "
            "Application_State string, Administration_State string, "
            "Training_Requirement string, Supporter_Institution string, "
            "Group_Members string, Group_Leader_Institution string, "
            "Submission_Date string, Project_Discipline int, "
            "Project_Specific_Discipline int, Call_Submitted string",
            projects,
        ),
        "NHM_Application_Scores": (
            "synth_round int, PK_App_Score_ID int, UserProject_ID int, TAF_Scorer_ID int, "
            "Methodology_Score double, Research_Excellence_Score double, "
            "Support_Stmt_Score double, Justification_Score double, "
            "Expected_Gains_Score double, Scientific_Merit_Score double, "
            "Societal_Challenge_Score double, Scored_Flag int, USP_Comment string",
            scores,
        ),
    }


def _resources(b: int, rng: random.Random) -> dict[str, tuple[str, list[tuple]]]:
    """Per-block resource rows: the users.csv GUID maps, DOI caches and
    workbook sheets."""
    o, u = 1000 * b, 10000 * b
    g = 1_000_000 * b
    ids = [
        (-636396585 - g, 1, 1001 + u), (-636396585 - g, 1, 1002 + u),
        (77001 + g, 3, 3001 + u), (77001 + g, 2, 2001 + u),
        (88001 + g, 4, 4001 + u), (88001 + g, 4, 4002 + u),
        (99001 + g, 4, 4003 + u),
    ]
    ages = {(-636396585 - g, 1): "25-34", (77001 + g, 2): "25-34", (77001 + g, 3): "35-44",
            (88001 + g, 4): "45-54", (99001 + g, 4): "25-34"}
    age_rows = [
        (guid, r, ages.get((guid, r)))
        for guid in (-636396585 - g, 77001 + g, 88001 + g, 99001 + g)
        for r in (1, 2, 3, 4)
    ]
    doi1, doi2 = f"10.1234/ABC.{b}1", f"10.5555/XYZ.{b}2"
    c, i, f, a = 2 * b, 2 * b, 2 * b, 4 * b
    days = lambda: rng.randrange(1, 15)  # noqa: E731
    return {
        "user_ids": ("guid long, synth_round int, user_id long", ids),
        "user_ages": ("guid long, synth_round int, age_range string", age_rows),
        "output_dois": (
            "synth_round int, output_id int, doi string",
            [
                (1, 101 + o, doi1),
                (2, 201 + o, doi1),  # shared DOI
                (3, 301 + o, doi2),  # cached DOI without metadata
                (3, 999 + o, "10.9999/NOPE"),  # no such output
            ],
        ),
        "doi_metadata": (None, [doi1]),
        "workbook_Category": (
            "Category_ID long, CategoryName string, HigherCategoryName string",
            [(1 + c, f"Collections {b}", "Science"), (2 + c, f"Labs {b}", "Science")],
        ),
        "workbook_Institution": (
            "Institution_ID long, InstitutionAcronym string, InstitutionName string, CountryCode string",
            [(1 + i, f"NHM{b}", "Natural History Museum", "GB"),
             (2 + i, f"MfN{b}", "Museum fur Naturkunde", "DE")],
        ),
        "workbook_InstallationFacility": (
            "InstallationFacility_ID long, InstallationCode string, "
            "InstallationFacilityDescription string, Category_ID long, Institution_ID long",
            [(1 + f, f"GB-C{b}", "Collections access", 1 + c, 1 + i),
             (2 + f, f"DE-L{b}", "Lab access", 2 + c, 2 + i)],
        ),
        "workbook_AccessRequest": (
            "AccessRequest_ID long, UserProject_ID long, SynthRound long, "
            "InstallationFacility_ID long, DaysRequested long, RequestDetail string",
            [
                (1 + a, 110 + o, 1, 1 + f, days(), "visit a"),  # two requests
                (2 + a, 110 + o, 1, 2 + f, days(), "visit b"),
                (3 + a, 211 + o, 2, 1 + f, days(), "visit c"),
                (4 + a, 210 + o, 2, 2 + f, days(), "ghost"),  # dropped project
            ],
        ),
    }


#: Shared across blocks: the ISO seed, the gazetteer (same-name towns in
#: two countries, alternate names, a max-population trap the manual map
#: overrides) and the two name maps.
_COUNTRIES = [
    ("BD", "Bangladesh"), ("DE", "Germany"), ("FR", "France"),
    ("GB", "United Kingdom"), ("PK", "Pakistan"), ("RU", "Russia"),
    ("US", "United States"),
]
_CITIES = [
    ("London", "GB", 9000000, []),
    ("Cologne", "DE", 1000000, ["Köln", "Koeln"]),
    ("Cambridge", "GB", 120000, []),
    ("Cambridge", "US", 110000, []),
    ("Moscow", "RU", 12000000, ["Moskva"]),
    ("Moscow", "US", 25000, []),
    ("Islamabad", "PK", 1000000, []),
    ("Islamabad", "BD", 2000000, []),
]


def _city_names() -> list[tuple]:
    """The lowercase name index ``resources.city_name_index`` builds."""
    rows = set()
    for city_id, (name, cc, pop, alts) in enumerate(sorted(_CITIES, key=lambda c: c[:2])):
        for n in [name, *alts]:
            rows.add((n.lower(), cc, pop, city_id))
    return sorted(rows)


def generate_pipeline_input(root: str, seed: int, blocks: int) -> dict[str, int]:
    """Write ``<root>/sources`` and ``<root>/resources``; return the rows
    written per input table."""
    rng = random.Random(seed)
    src_dir, res_dir = os.path.join(root, "sources"), os.path.join(root, "resources")
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(res_dir, exist_ok=True)
    src: dict[str, tuple[str, list]] = {}
    res: dict[str, tuple[str | None, list]] = {}
    for b in range(blocks):
        for table, (ddl, rows) in _sources(b, rng).items():
            src.setdefault(table, (ddl, []))[1].extend(rows)
        for table, (ddl, rows) in _resources(b, rng).items():
            res.setdefault(table, (ddl, []))[1].extend(rows)
    src["NHM_OutputTypes"] = (
        "synth_round int, OutputType_ID int, OutputType string",
        [(r, i, n) for r in (1, 2, 3, 4) for i, n in [(1, "Journal"), (2, "Thesis")]],
    )
    src["NHM_PublicationStatus"] = (
        "synth_round int, PublicationStatus_ID int, PublicationStatus string",
        [(r, i, n) for r in (1, 2, 3, 4) for i, n in [(1, "Published"), (2, "In Press")]],
    )
    counts = {}
    for table, (ddl, rows) in src.items():
        counts[table] = _write(os.path.join(src_dir, f"{table}.parquet"), ddl, rows)
    for table, (ddl, rows) in res.items():
        if table == "doi_metadata":
            continue
        counts[table] = _write(os.path.join(res_dir, f"{table}.parquet"), ddl, rows)
    author = pa.struct([("given", pa.string()), ("family", pa.string())])
    meta = pa.table(
        {
            "doi": pa.array(res["doi_metadata"][1], pa.string()),
            # the author without a given name is skipped
            "m_author": pa.array(
                [[{"given": "Jane", "family": "Smith"}, {"given": None, "family": "Solo"}]]
                * blocks,
                pa.list_(author),
            ),
            "m_title": pa.array([["The <b>Real</b>  Title"]] * blocks, pa.list_(pa.string())),
            "m_created": pa.array(["2005-03-01T00:00:00Z"] * blocks, pa.string()),
            "m_publisher": pa.array(["RealPub"] * blocks, pa.string()),
            "m_url": pa.array(["https://doi.org/10.1234/abc.1"] * blocks, pa.string()),
            "m_volume": pa.array(["42"] * blocks, pa.string()),
            "m_page": pa.array(["100-110"] * blocks, pa.string()),
        }
    )
    pq.write_table(meta, os.path.join(res_dir, "doi_metadata.parquet"))
    counts["doi_metadata"] = meta.num_rows
    for table, ddl, rows in (
        ("countries", "code string, name string", _COUNTRIES),
        ("master_clean", "dirty string, clean string",
         [("NHM London", "Natural History Museum"), ("Junk Inst", "nil")]),
        ("unmatched_towns", "town string, country_code string", [("Islamabad", "PK")]),
        ("city_names", "name_lc string, countrycode string, population long, city_id long",
         _city_names()),
    ):
        counts[table] = _write(os.path.join(res_dir, f"{table}.parquet"), ddl, rows)
    return counts
