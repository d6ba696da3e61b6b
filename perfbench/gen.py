"""Seeded API-shaped staged corpus for the ETL workloads.

For each (season, league) group this emits the raw payloads the two APIs
return (API-Football: flat string-typed arrays; API-Sports: nested
`response` documents) together with the ok rows and the `(pk, error)`
dead letter the pipeline must produce for them. The program under test
only ever receives the payloads; the expectations stay on this side.

Group kinds:
  healthy      all fields present
  no_goals     GF/GA omitted from the standings (the default-0 path)
  bad_points   one team's points is non-numeric (API-Football only,
               where every numeric arrives as a string) -> enforcement_failure
  unjoinable   standings team ids shifted off the teams ids -> empty_or_unjoinable_group
  truncated    the latest standings file is cut in half -> corrupt_input
A stale earlier run (parseable, different numbers) sits beside the latest
run in about a tenth of the endpoint directories; `latestOnly` must ignore it.
"""
import hashlib
import json
import random

APIS = ("apifootball", "apisports")

# the unified v1 columns the check compares; update_timestamp is stamped
# with the wall clock at the sink and is left out
OK_COLS = ("pk", "team_id", "team_name", "team_country", "league_id",
           "league_name", "season", "rank", "points", "games_played", "wins",
           "draws", "losses", "goals_for", "goals_against", "goal_difference",
           "form", "venue_name", "venue_city", "schema_version")

DEAD_ERROR = {"bad_points": "enforcement_failure",
              "unjoinable": "empty_or_unjoinable_group",
              "truncated": "corrupt_input"}

_SYL = ("ar", "bel", "cor", "dun", "el", "fa", "gra", "hol", "ix", "jo",
        "kal", "lem", "mor", "nor", "ost", "pra", "quin", "ros", "sal", "tor")
_COUNTRIES = ("England", "Spain", "Italy", "Germany", "France", "Portugal",
              "Netherlands", "Belgium", "Scotland", "Austria")
_LATEST_RUN = "run_000002"
_STALE_RUN = "run_000001"


def _word(rng, n):
    return "".join(rng.choice(_SYL) for _ in range(n)).capitalize()


def _table(rng, n_teams):
    """One league table: distinct team ids, results consistent with a
    double round robin, ranked by points."""
    played = 2 * (n_teams - 1)
    ids = rng.sample(range(100, 100000), n_teams)
    teams = []
    for tid in ids:
        w = rng.randint(0, played)
        d = rng.randint(0, played - w)
        gf = rng.randint(w, 3 * played)
        ga = rng.randint(0, 3 * played)
        teams.append({
            "id": tid, "name": f"{_word(rng, 2)} {_word(rng, 1)}",
            "country": rng.choice(_COUNTRIES),
            "venue_name": f"{_word(rng, 2)} Park", "venue_city": _word(rng, 3),
            "played": played, "win": w, "draw": d, "lose": played - w - d,
            "points": 3 * w + d, "gf": gf, "ga": ga,
            "form": "".join(rng.choice("WDL") for _ in range(5))})
    teams.sort(key=lambda t: (-t["points"], t["id"]))
    for i, t in enumerate(teams):
        t["rank"] = i + 1
    return teams


def _football_payloads(teams, season, league, league_name, kind, shift):
    tjson = [{"team_key": str(t["id"]), "team_name": t["name"],
              "team_country": t["country"],
              "venue": {"venue_name": t["venue_name"],
                        "venue_city": t["venue_city"]}} for t in teams]
    sjson = []
    for i, t in enumerate(teams):
        row = {"team_id": str(t["id"] + shift), "team_name": t["name"],
               "league_id": str(league), "league_name": league_name,
               "overall_league_position": str(t["rank"]),
               "overall_league_PTS": str(t["points"]),
               "overall_league_payed": str(t["played"]),
               "overall_league_W": str(t["win"]),
               "overall_league_D": str(t["draw"]),
               "overall_league_L": str(t["lose"]),
               "overall_league_form": t["form"]}
        if kind != "no_goals":
            row["overall_league_GF"] = str(t["gf"])
            row["overall_league_GA"] = str(t["ga"])
        if kind == "bad_points" and i == len(teams) // 2:
            row["overall_league_PTS"] = "n/a"
        sjson.append(row)
    return tjson, sjson


def _sports_payloads(teams, season, league, league_name, kind, shift):
    tjson = {"response": [{"team": {"id": t["id"], "name": t["name"],
                                    "country": t["country"]},
                           "venue": {"name": t["venue_name"],
                                     "city": t["venue_city"]}} for t in teams]}
    rows = []
    for t in teams:
        allv = {"played": t["played"], "win": t["win"], "draw": t["draw"],
                "lose": t["lose"]}
        if kind != "no_goals":
            allv["goals"] = {"for": t["gf"], "against": t["ga"]}
        rows.append({"rank": t["rank"],
                     "team": {"id": t["id"] + shift, "name": t["name"]},
                     "points": t["points"], "goalsDiff": t["gf"] - t["ga"],
                     "form": t["form"], "all": allv})
    sjson = {"response": [{"league": {"id": league, "name": league_name,
                                      "season": season,
                                      "standings": [rows]}}]}
    return tjson, sjson


def _ok_rows(api, teams, season, league, league_name, kind):
    out = []
    for t in teams:
        gf, ga = (0, 0) if kind == "no_goals" else (t["gf"], t["ga"])
        # API-Sports carries goalsDiff verbatim; API-Football derives it
        gd = t["gf"] - t["ga"] if api == "apisports" else gf - ga
        out.append((f"{season}-{league}-{t['id']}", str(t["id"]), t["name"],
                    t["country"], str(league), league_name, season, t["rank"],
                    t["points"], t["played"], t["win"], t["draw"], t["lose"],
                    gf, ga, gd, t["form"], t["venue_name"], t["venue_city"], "1"))
    return out


def make_group(rng, api, season, league, kind, n_teams, stale_endpoints=()):
    """Payload files and expectations for one (season, league) group.

    Returns (files, ok_rows, dead) where files is a list of
    (endpoint, run_id, text) and dead is None or (pk, error)."""
    teams = _table(rng, n_teams)
    league_name = f"{_word(rng, 2)} League"
    build = _football_payloads if api == "apifootball" else _sports_payloads
    shift = 500000 if kind == "unjoinable" else 0
    tjson, sjson = build(teams, season, league, league_name, kind, shift)
    texts = {"teams": json.dumps(tjson), "standings": json.dumps(sjson)}
    if kind == "truncated":
        texts["standings"] = texts["standings"][:len(texts["standings"]) // 2]
    files = []
    for ep in ("teams", "standings"):
        if ep in stale_endpoints:
            # an earlier run of the same endpoint with other numbers; it
            # stays parseable so only the latest-run rule keeps it out
            old = [dict(t, points=t["points"] + 7, rank=len(teams) - t["rank"] + 1)
                   for t in teams]
            ot, os_ = build(old, season, league, league_name, "healthy", 0)
            files.append((ep, _STALE_RUN, json.dumps(ot if ep == "teams" else os_)))
        files.append((ep, _LATEST_RUN, texts[ep]))
    pk = f"{season}-{league}"
    if kind in DEAD_ERROR:
        return files, [], (pk, DEAD_ERROR[kind])
    return files, _ok_rows(api, teams, season, league, league_name, kind), None


def _kinds(rng, api, n, share_bad, share_no_goals):
    """Defect kinds for n groups: share_bad of them each truncated,
    unjoinable and (API-Football) bad_points, at least one each."""
    bad = ["truncated", "unjoinable"] + (["bad_points"] if api == "apifootball" else [])
    k = max(1, round(share_bad * n))
    kinds = [b for b in bad for _ in range(k)]
    kinds += ["no_goals"] * round(share_no_goals * n)
    kinds += ["healthy"] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def _groups(rng, api, keys, kinds, stale_share, team_range):
    out = []
    for (season, league), kind in zip(keys, kinds):
        stale = tuple(ep for ep in ("teams", "standings") if rng.random() < stale_share)
        files, ok, dead = make_group(rng, api, season, league, kind,
                                     rng.randint(*team_range), stale)
        out.append({"season": season, "league": league, "kind": kind,
                    "files": files, "ok": ok, "dead": dead})
    return out


def backfill_corpus(seed, groups_per_api, team_range=(16, 24)):
    """{api: [group]} for the whole-corpus backfill."""
    out = {}
    for ai, api in enumerate(APIS):
        rng = random.Random(f"backfill:{seed}:{api}")
        keys = [(2010 + i % 15, 100 + ai * 1000 + i) for i in range(groups_per_api)]
        kinds = _kinds(rng, api, groups_per_api, 0.02, 0.1)
        out[api] = _groups(rng, api, keys, kinds, 0.1, team_range)
    return out


def daily_corpus(seed, hist_per_api, days, leagues_per_day=2, team_range=(16, 24)):
    """({api: [group]} history, [{api: [group]}] one entry per day).

    Every league-season appears once, so each day's upsert touches only
    its own partitions; every third day one payload is defective."""
    hist, per_day = {}, [dict() for _ in range(days)]
    bad_cycle = ("truncated", "bad_points", "unjoinable")
    for ai, api in enumerate(APIS):
        rng = random.Random(f"daily:{seed}:{api}")
        keys = [(1990 + i % 10, 10 + ai * 1000 + i) for i in range(hist_per_api)]
        hist[api] = _groups(rng, api, keys, _kinds(rng, api, hist_per_api, 0.0, 0.1),
                            0.0, team_range)
        for d in range(days):
            keys = [(2020, 5000 + ai * 100000 + d * leagues_per_day + j)
                    for j in range(leagues_per_day)]
            kinds = ["healthy"] * leagues_per_day
            if d % 3 == 2:
                bad = bad_cycle[(d // 3 + ai) % len(bad_cycle)]
                kinds[0] = "truncated" if bad == "bad_points" and api == "apisports" else bad
            per_day[d][api] = _groups(rng, api, keys, kinds, 0.0, team_range)
    return hist, per_day


def norm_cell(v):
    return "NULL" if v is None else str(v)


def rows_hash(rows):
    """Order-insensitive hash of rows given in OK_COLS order."""
    h = hashlib.sha256()
    for line in sorted("\x01".join(norm_cell(c) for c in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def expectation(groups):
    """The check record for one pipeline run over `groups`."""
    ok = [r for g in groups for r in g["ok"]]
    return {"ok_rows": len(ok), "ok_hash": rows_hash(ok),
            "dead": sorted(list(g["dead"]) for g in groups if g["dead"]),
            "groups": [[g["season"], g["league"]] for g in groups]}


def write_manifest(path, sets):
    """One JSON line per staged file: {set, api, season, league, endpoint,
    run, payload}; `sets` maps a set name to {api: [group]}."""
    n = 0
    with open(path, "w") as f:
        for name, by_api in sets.items():
            for api, groups in by_api.items():
                for g in groups:
                    for ep, run, text in g["files"]:
                        f.write(json.dumps({"set": name, "api": api,
                                            "season": g["season"],
                                            "league": g["league"],
                                            "endpoint": ep, "run": run,
                                            "payload": text}) + "\n")
                        n += 1
    return n
