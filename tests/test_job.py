"""Join Order Benchmark (JOB) q1–q33 as planner stress, run LITERALLY from
the reference's benchmark YAMLs (`/root/reference/benchmark/job/q*.yml`,
generated from the public JOB query set) against a deterministic generated
IMDB-shaped fixture — the reference downloads the real IMDB dump from an
external server, which this container cannot (and the driver's testdata
does not carry these tables), so a seeded generator stands in.

Coverage: every case of q1–q33 expressible in the mutable grammar — 37
cases across q1/q2/q4/q6/q8/q10/q13/q15/q16/q17/q32 (up to 9-relation
join graphs, incl. self-joins `info_type AS it1/it2` and `title AS
t1/t2`). All other cases use ``x IN (...)`` / ``BETWEEN`` (no such
keywords in `include/mutable/tables/Keywords.tbl`) or postfix ``IS [NOT]
NULL`` (no such production in `src/parse/Parser.cpp` — mutable spells it
``ISNULL(x)``) — they are upstream aspirations, not runnable dialect,
and are excluded here exactly as mutable's parser would reject them.

Checks per case:
- oracle rows: the same query text (string literals requoted for ANSI)
  over the same data in DuckDB, compared value-for-value;
- plan shape: 4–9-relation join graphs through JoinPlanner/DPccp — no
  CartesianProduct, no BroadcastNestedLoopJoin, dimension tables
  broadcast.
"""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

yaml = pytest.importorskip("yaml")

from mutable_spark.dialect import parse
from mutable_spark.dialect.compiler import compile_select
from mutable_spark.plans.planner import Cardinalities, JoinPlanner
from tests.test_plan_shape import explain

JOB = Path("/root/reference/benchmark/job")

pytestmark = pytest.mark.skipif(
    not JOB.exists(), reason="reference benchmark corpus not available"
)

#: q → cases expressible in the mutable grammar (no IN / BETWEEN)
KEEP = {
    1: ["a", "c", "d"],
    2: ["a", "b", "c", "d"],
    4: ["a", "b", "c"],
    6: ["a", "c", "e"],
    8: ["a", "c", "d"],
    10: ["a", "b", "c"],
    13: ["a", "b", "c", "d"],
    15: ["a", "d"],
    16: ["a", "b", "c", "d"],
    17: ["a", "b", "c", "d", "e", "f"],
    32: ["a", "b"],
}


# --- deterministic IMDB-shaped fixture ------------------------------------
def _fixture_frames() -> dict[str, pd.DataFrame]:
    """Seeded generator sized so every predicate pool in q1–q10 is hit.
    Value pools mirror the public IMDB domains the queries select on."""
    rng = np.random.default_rng(7)

    company_type = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "kind": [
                "production companies",
                "distributors",
                "special effects companies",
                "miscellaneous companies",
            ],
        }
    )
    info_type = pd.DataFrame(
        {
            "id": list(range(1, 8)),
            "info": [
                "top 250 rank",
                "bottom 10 rank",
                "rating",
                "votes",
                "genres",
                "budget",
                "release dates",
            ],
        }
    )
    role_type = pd.DataFrame(
        {
            "id": list(range(1, 8)),
            "role": [
                "actor",
                "actress",
                "producer",
                "writer",
                "costume designer",
                "director",
                "cinematographer",
            ],
        }
    )

    kind_type = pd.DataFrame(
        {
            "id": list(range(1, 8)),
            "kind": [
                "movie",
                "tv series",
                "video movie",
                "tv movie",
                "video game",
                "episode",
                "tv mini series",
            ],
        }
    )
    link_type = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "link": ["follows", "followed by", "remake of", "features"],
        }
    )

    n_title = 800
    title = pd.DataFrame(
        {
            "id": np.arange(1, n_title + 1),
            "title": [f"Movie {i:04d}" for i in range(1, n_title + 1)],
            "production_year": rng.integers(1990, 2016, n_title),
            "kind_id": rng.integers(1, 8, n_title),
            "episode_nr": rng.integers(0, 200, n_title),
        }
    )

    kw_pool = (
        [
            "character-name-in-title",
            "marvel-cinematic-universe",
            "sequel",
            "based-on-novel",
            "superhero",
            "second-part-sequel",
        ]
        + [f"kw-{i}" for i in range(60)]
        + ["10,000-mile-club"]  # id 67, q32a
    )
    keyword = pd.DataFrame(
        {"id": np.arange(1, len(kw_pool) + 1), "keyword": kw_pool}
    )

    cc_pool = ["[us]", "[de]", "[nl]", "[jp]", "[ru]", "[sm]", "[gb]", "[fr]"]
    n_cn = 120
    company_name = pd.DataFrame(
        {
            "id": np.arange(1, n_cn + 1),
            "name": [f"Company {i:03d}" for i in range(1, n_cn + 1)],
            "country_code": rng.choice(cc_pool, n_cn),
        }
    )

    chn_pool = ["Yoda", "Young Man", "Yolanda", "Tony Stark", "Queen"] + [
        f"Character {i:03d}" for i in range(120)
    ]
    char_name = pd.DataFrame(
        {"id": np.arange(1, len(chn_pool) + 1), "name": chn_pool}
    )

    name_pool = (
        [
            "Downey, Robert Jr.",
            "Yoakam, Dwight",
            "Yorn, Pete",
            "Young, Sean",
            "Bale, Christian",
            "Blanchett, Cate",
        ]
        + [f"Person {i:03d}" for i in range(200)]
        # q17's LIKE families: Z% / X% / %Bert% (ids 207-209)
        + ["Zhang, Ziyi", "Xavier, Pete", "Bertrand, Paul"]
    )
    name = pd.DataFrame(
        {"id": np.arange(1, len(name_pool) + 1), "name": name_pool}
    )

    n_an = 150
    aka_name = pd.DataFrame(
        {
            "id": np.arange(1, n_an + 1),
            "person_id": rng.integers(1, len(name_pool) + 1, n_an),
            "name": rng.choice(
                ["Yo-Yo", "R. Downey", "C. Bale", "Alias A", "Alias B"], n_an
            ),
        }
    )

    mc_notes = [
        "(co-production)",
        "(presents)",
        "(as Metro-Goldwyn-Mayer Pictures)",
        "(2006) (USA) (TV)",
        "(2007) (Japan) (DVD)",
        "(2009) (Japan) (theatrical)",
        "(uncredited)",
        None,
    ]
    n_mc = 2500
    movie_companies = pd.DataFrame(
        {
            "id": np.arange(1, n_mc + 1),
            "movie_id": rng.integers(1, n_title + 1, n_mc),
            "company_id": rng.integers(1, n_cn + 1, n_mc),
            "company_type_id": rng.integers(1, 5, n_mc),
            "note": rng.choice(mc_notes, n_mc),
        }
    )

    n_mi = 1800
    movie_info_idx = pd.DataFrame(
        {
            "id": np.arange(1, n_mi + 1),
            "movie_id": rng.integers(1, n_title + 1, n_mi),
            "info_type_id": rng.integers(1, 8, n_mi),
            "info": rng.choice(
                ["2.0", "3.4", "5.0", "6.5", "7.2", "8.1", "9.0", "990"], n_mi
            ),
        }
    )

    mi_infos = [
        "USA: April 2005",
        "USA: 12 May 1999",
        "Germany: 2001",
        "$1,000,000",
        "Horror",
        "6.5",
    ]
    mi_notes = [
        "(internet)",
        "(DVD premiere)",
        "(theatrical)",
        "(worldwide)",
        None,
    ]
    n_mif = 2200
    movie_info = pd.DataFrame(
        {
            "id": np.arange(1, n_mif + 1),
            "movie_id": rng.integers(1, n_title + 1, n_mif),
            "info_type_id": rng.integers(1, 8, n_mif),
            "info": rng.choice(mi_infos, n_mif),
            "note": rng.choice(mi_notes, n_mif),
        }
    )

    n_at = 400
    aka_title = pd.DataFrame(
        {
            "id": np.arange(1, n_at + 1),
            "movie_id": rng.integers(1, n_title + 1, n_at),
            "title": [f"AKA Movie {i:04d}" for i in range(1, n_at + 1)],
        }
    )

    n_ml = 300
    movie_link = pd.DataFrame(
        {
            "id": np.arange(1, n_ml + 1),
            "movie_id": rng.integers(1, n_title + 1, n_ml),
            "linked_movie_id": rng.integers(1, n_title + 1, n_ml),
            "link_type_id": rng.integers(1, 5, n_ml),
        }
    )

    n_mk = 1800
    movie_keyword = pd.DataFrame(
        {
            "id": np.arange(1, n_mk + 1),
            "movie_id": rng.integers(1, n_title + 1, n_mk),
            "keyword_id": rng.integers(1, len(kw_pool) + 1, n_mk),
        }
    )

    ci_notes = [
        "(voice)",
        "(voice: English version)",
        "(voice) (uncredited)",
        "(producer)",
        "(uncredited)",
        None,
    ]
    n_ci = 3500
    cast_info = pd.DataFrame(
        {
            "id": np.arange(1, n_ci + 1),
            "person_id": rng.integers(1, len(name_pool) + 1, n_ci),
            "movie_id": rng.integers(1, n_title + 1, n_ci),
            "person_role_id": rng.integers(1, len(chn_pool) + 1, n_ci),
            "role_id": rng.integers(1, 8, n_ci),
            "note": rng.choice(ci_notes, n_ci),
        }
    )

    # --- planted witness rows: make every kept case non-trivial ---------
    # q6a/c/e: Downey (name id 1) cast on a marvel-keyword movie from 2015
    title.loc[789, "production_year"] = 2015  # movie id 790
    movie_keyword = pd.concat(
        [
            movie_keyword,
            pd.DataFrame({"id": [n_mk + 1], "movie_id": [790], "keyword_id": [2]}),
        ],
        ignore_index=True,
    )
    # q8a: 'Yoakam, Dwight' (id 2, %Yo% not %Yu%) voices the English
    # version as actress on movie 790, produced by a [jp] company with a
    # Japan-only note; an alias exists
    company_name.loc[4, "country_code"] = "[jp]"  # company id 5
    cast_info = pd.concat(
        [
            cast_info,
            pd.DataFrame(
                {
                    "id": [n_ci + 1, n_ci + 2],
                    "person_id": [1, 2],
                    "movie_id": [790, 790],
                    "person_role_id": [1, 2],
                    "role_id": [1, 2],
                    "note": ["(voice)", "(voice: English version)"],
                }
            ),
        ],
        ignore_index=True,
    )
    aka_name = pd.concat(
        [
            aka_name,
            pd.DataFrame({"id": [n_an + 1], "person_id": [2], "name": ["Yo-Yo"]}),
        ],
        ignore_index=True,
    )
    movie_companies = pd.concat(
        [
            movie_companies,
            pd.DataFrame(
                {
                    "id": [n_mc + 1],
                    "movie_id": [790],
                    "company_id": [5],
                    "company_type_id": [1],
                    "note": ["(2009) (Japan) (theatrical)"],
                }
            ),
        ],
        ignore_index=True,
    )

    # --- q11–q32 witnesses -------------------------------------------------
    # q11b: 1998 "%Money%" sequel movie that "follows" another, produced by
    # a %Film%/%Warner% company with a NULL mc.note
    title.loc[599, ["title", "production_year"]] = ["The Money Pit", 1998]
    company_name.loc[9, "name"] = "Warner Films"
    # q12b: >2000 "%Movie%" title with a budget mi row and a bottom-10 miidx
    title.loc[600, "production_year"] = 2005
    company_name.loc[0, "country_code"] = "[us]"  # company id 1
    # q13: [us]-produced kind='movie' "Champion%" title with rating+release;
    # q13a additionally wants a [de] producer on such a movie
    title.loc[601, ["title", "kind_id"]] = ["Champion Heart", 1]
    company_name.loc[19, "country_code"] = "[de]"  # company id 20
    # q15: modern internet release with a worldwide 200x company note
    title.loc[602, "production_year"] = 2005
    # q16/q17: char-named-in-title movie, episode_nr in [50,100), cast with
    # aka'd + B%/Z%/X%/%Bert% people
    title.loc[603, "episode_nr"] = 60

    movie_keyword = pd.concat(
        [
            movie_keyword,
            pd.DataFrame(
                {
                    "id": [n_mk + 2, n_mk + 3, n_mk + 4, n_mk + 5],
                    "movie_id": [600, 603, 604, 605],
                    "keyword_id": [3, 4, 1, 67],  # sequel, kw, char-name, 10k-mile
                }
            ),
        ],
        ignore_index=True,
    )
    movie_link = pd.concat(
        [
            movie_link,
            pd.DataFrame(
                {
                    "id": [n_ml + 1, n_ml + 2, n_ml + 3],
                    "movie_id": [600, 605, 604],
                    "linked_movie_id": [601, 606, 607],
                    "link_type_id": [1, 2, 3],
                }
            ),
        ],
        ignore_index=True,
    )
    movie_companies = pd.concat(
        [
            movie_companies,
            pd.DataFrame(
                {
                    "id": np.arange(n_mc + 2, n_mc + 8),
                    "movie_id": [600, 601, 602, 602, 603, 604],
                    "company_id": [10, 1, 1, 20, 1, 1],
                    "company_type_id": [1, 1, 1, 1, 1, 1],
                    "note": [None, None, None, None, "(2005) (worldwide)", None],
                }
            ),
        ],
        ignore_index=True,
    )
    movie_info = pd.concat(
        [
            movie_info,
            pd.DataFrame(
                {
                    "id": [n_mif + 1, n_mif + 2, n_mif + 3],
                    "movie_id": [601, 602, 603],
                    "info_type_id": [6, 7, 7],  # budget, release dates ×2
                    "info": ["$1,000,000", "USA: April 2005", "USA: April 2005"],
                    "note": [None, None, "(internet)"],
                }
            ),
        ],
        ignore_index=True,
    )
    movie_info_idx = pd.concat(
        [
            movie_info_idx,
            pd.DataFrame(
                {
                    "id": [n_mi + 1, n_mi + 2],
                    "movie_id": [601, 602],
                    "info_type_id": [2, 3],  # bottom 10 rank, rating
                    "info": ["3.4", "7.2"],
                }
            ),
        ],
        ignore_index=True,
    )
    aka_title = pd.concat(
        [
            aka_title,
            pd.DataFrame(
                {"id": [n_at + 1], "movie_id": [603], "title": ["AKA Internet Movie"]}
            ),
        ],
        ignore_index=True,
    )
    cast_info = pd.concat(
        [
            cast_info,
            pd.DataFrame(
                {
                    "id": np.arange(n_ci + 3, n_ci + 7),
                    "person_id": [5, 207, 208, 209],  # Bale, Zhang, Xavier, Bertrand
                    "movie_id": [604, 604, 604, 604],
                    "person_role_id": [1, 1, 1, 1],
                    "role_id": [1, 1, 1, 1],
                    "note": [None, None, None, None],
                }
            ),
        ],
        ignore_index=True,
    )
    aka_name = pd.concat(
        [
            aka_name,
            pd.DataFrame({"id": [n_an + 2], "person_id": [5], "name": ["C. Bale"]}),
        ],
        ignore_index=True,
    )

    return {
        "company_type": company_type,
        "info_type": info_type,
        "role_type": role_type,
        "kind_type": kind_type,
        "link_type": link_type,
        "title": title,
        "keyword": keyword,
        "company_name": company_name,
        "char_name": char_name,
        "name": name,
        "aka_name": aka_name,
        "aka_title": aka_title,
        "movie_companies": movie_companies,
        "movie_info": movie_info,
        "movie_info_idx": movie_info_idx,
        "movie_link": movie_link,
        "movie_keyword": movie_keyword,
        "cast_info": cast_info,
    }


@pytest.fixture(scope="module")
def job_env(spark):
    frames = _fixture_frames()
    tables = {n: spark.createDataFrame(f) for n, f in frames.items()}
    import duckdb

    duck = duckdb.connect()
    for n, f in frames.items():
        duck.register(n, f)
    cards = Cardinalities(base={n: len(f) for n, f in frames.items()})
    planner = JoinPlanner(cards, broadcast_rows=1_000)
    return tables, duck, planner


def _cases():
    out = []
    if not JOB.exists():
        return out
    for i, cs in KEEP.items():
        doc = yaml.safe_load((JOB / f"q{i}.yml").read_text())
        for c in cs:
            out.append(pytest.param(doc["cases"][c], id=f"q{i}{c}"))
    return out


def _ansi(q: str) -> str:
    """mutable string literals are double-quoted; ANSI/DuckDB wants single
    quotes (double quotes would be identifiers)."""
    return re.sub(r'"([^"]*)"', lambda m: "'" + m.group(1).replace("'", "''") + "'", q)


@pytest.mark.parametrize("query", _cases())
def test_job_oracle_rows(job_env, query):
    tables, duck, planner = job_env
    df = compile_select(parse(query), tables, planner=planner)
    got = sorted(tuple(r) for r in df.collect())
    exp = sorted(tuple(r) for r in duck.execute(_ansi(query)).fetchall())
    assert got == exp


@pytest.mark.parametrize("query", _cases())
def test_job_plan_shape(job_env, query):
    """4–8-relation graphs through DPccp: cross-product-free with the
    small dimension sides broadcast."""
    tables, duck, planner = job_env
    df = compile_select(parse(query), tables, planner=planner)
    p = explain(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


@pytest.mark.parametrize("query", _cases())
def test_job_heuristic_search_plans(job_env, query):
    """The SIGMOD'23 heuristic-search enumerator over the same JOB join
    graphs: anytime A* (GOO heuristic, bounded expansions —
    `plans/planner.py::hs_anytime_plan`) must produce cross-product-free
    plans on every expressible case, like the exact DPs."""
    tables, duck, planner = job_env
    hs = JoinPlanner(planner.cards, broadcast_rows=1_000, enumerator="hs-anytime")
    df = compile_select(parse(query), tables, planner=hs)
    p = explain(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# --- job-light (r10): the reference's 4-YAML reduced JOB family -----------
# (`/root/reference/benchmark/job-light/job-light_{1..4}.yml` — 70 COUNT(*)
# cases over 2-5-relation equi-join graphs with numeric predicates, all
# expressible in the mutable grammar). Same checks as the full JOB set:
# value parity vs DuckDB on the same fixture, cross-product-free plans.

JOB_LIGHT = Path("/root/reference/benchmark/job-light")


def _job_light_cases():
    out = []
    if not JOB_LIGHT.exists():
        return out
    for i in (1, 2, 3, 4):
        doc = yaml.safe_load((JOB_LIGHT / f"job-light_{i}.yml").read_text())
        for c, q in sorted(doc["cases"].items()):
            out.append(pytest.param(q, id=f"jl{i}_{c}"))
    return out


@pytest.mark.parametrize("query", _job_light_cases())
def test_job_light_oracle_rows(job_env, query):
    tables, duck, planner = job_env
    df = compile_select(parse(query), tables, planner=planner)
    got = sorted(tuple(r) for r in df.collect())
    exp = sorted(tuple(r) for r in duck.execute(_ansi(query)).fetchall())
    assert got == exp


@pytest.mark.parametrize("query", _job_light_cases())
def test_job_light_plan_shape(job_env, query):
    tables, duck, planner = job_env
    df = compile_select(parse(query), tables, planner=planner)
    p = explain(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
