"""Seeded generator for the warehouse pipeline's eight source files.

Writes the FIXTURES.md shapes under ``<out>/data``:

  fitbit/dailyActivity_merged.csv      fitbit/heartrate_seconds_merged.csv
  fitbit/hourlyCalories_merged.csv     fitbit/weightLogInfo_merged.csv
  fitbit/minuteSleep_merged.csv        gym_members_exercise_tracking.csv
  gym_recommendation.xlsx              nutrition.xlsx

The two sheets are real ``.xlsx`` files (stdlib ``zipfile``, shared-string
table, fixed zip timestamps), so the pipeline takes its native xlsx path.
The same seed and sizes give byte-identical files.

Planted cases: exact-duplicate Mendeley profiles, gym rows whose profile
key matches a Mendeley row, out-of-range BMI in both BMI sources, days
with zero active minutes, rows dated before Dim_Date starts, duplicate
and blank food names, and one Mendeley row with an unparseable age.

``generate`` also returns the warehouse row counts these inputs must
produce, derived here in plain Python from the generated rows (no import
of the pipeline package), for the output check.
"""

from __future__ import annotations

import csv
import io
import os
import random
import re
import zipfile
from dataclasses import asdict, dataclass
from datetime import date, timedelta

DIM_DATE_FIRST = date(2016, 1, 1)
DIM_DATE_LAST = date(2025, 12, 31)
FITBIT_START = date(2016, 3, 12)
# sample meal logs: at most 10 users, 3-5 days each, 3-5 meals a day
NUTRITION_LOG_USERS = 10
# daily rows with no very or fairly active minutes: 1 - 233 / 457 in the
# reference
ZERO_ACTIVITY_SHARE = 224 / 457
# users with a planted daily row dated before Dim_Date starts
PRE_RANGE_USERS = 2


@dataclass(frozen=True)
class Sizes:
    mendeley_rows: int
    mendeley_profiles: int
    gym_rows: int
    nutrition_rows: int
    fitbit_users: int
    days: int
    daily_rows: int
    hourly_rows: int
    hr_users: int
    hr_per_day: int
    sleep_nights: int
    sleep_min_per_night: int
    weight_logs: int


# The reference's inputs, as BASELINE.md and SURVEY.md section 1.3 record
# them from its files, run log and report:
#   Mendeley sheet 14,589 rows, gym CSV 973 rows, nutrition sheet 8,789
#   foods x 77 columns; Fitbit dailyActivity 457 rows, hourlyCalories
#   24,084 rows, weightLogInfo 33 rows over 3/12/2016-4/11/2016.
#   15,597 user-mapping entries = 14,589 + 973 + 35 Fitbit Ids.
#   Dim_User 4,698: mendeley_profiles is set so that the distinct Mendeley
#   profiles, the gym profiles that match none (~85% of 973 here) and the
#   35 Fitbit Ids add up to it.
#   Fact_WorkoutSession 233 of the 457 daily rows (ZERO_ACTIVITY_SHARE).
#   Fact_HealthMetric 676 with all files = 2 x 33 weight rows + 610
#   heart-rate and sleep user-days.
#   Bridge_User_DietPreference 46,223, ~12.5 diet items per profile.
# Not in the repository, so assumed: how the 610 user-days split between
# heart rate (hr_users x days) and sleep (sleep_nights), and the rows per
# user-day of the two files the reference snapshot lacks. A sleep night is
# 7 h at one row per minute; heart rate is one sample per 30 s over 16 h
# worn, which keeps extract and transform driver-bound on 4 cores.
REFERENCE = Sizes(
    mendeley_rows=14_589,
    mendeley_profiles=3_836,
    gym_rows=973,
    nutrition_rows=8_789,
    fitbit_users=35,
    days=31,
    daily_rows=457,
    hourly_rows=24_084,
    hr_users=14,
    hr_per_day=1_920,
    sleep_nights=176,
    sleep_min_per_night=420,
    weight_logs=33,
)

# Smallest size that still plants every case (tests).
TINY = Sizes(
    mendeley_rows=60,
    mendeley_profiles=20,
    gym_rows=20,
    nutrition_rows=30,
    fitbit_users=4,
    days=5,
    daily_rows=14,
    hourly_rows=200,
    hr_users=2,
    hr_per_day=6,
    sleep_nights=5,
    sleep_min_per_night=5,
    weight_logs=6,
)

SIZES = {"reference": REFERENCE, "tiny": TINY}

MENDELEY_HEADER = [
    "ID", "Sex", "Age", "Height", "Weight", "Hypertension", "Diabetes", "BMI",
    "Level", "Fitness Goal", "Fitness Type", "Exercises", "Equipment", "Diet",
    "Recommendation",
]
GYM_HEADER = [
    "Age", "Gender", "Weight (kg)", "Height (m)", "Max_BPM", "Avg_BPM",
    "Resting_BPM", "Session_Duration (hours)", "Calories_Burned", "Workout_Type",
    "Fat_Percentage", "Water_Intake (liters)", "Workout_Frequency (days/week)",
    "Experience_Level", "BMI",
]
DAILY_HEADER = [
    "Id", "ActivityDate", "TotalSteps", "TotalDistance", "TrackerDistance",
    "LoggedActivitiesDistance", "VeryActiveDistance", "ModeratelyActiveDistance",
    "LightActiveDistance", "SedentaryActiveDistance", "VeryActiveMinutes",
    "FairlyActiveMinutes", "LightlyActiveMinutes", "SedentaryMinutes", "Calories",
]
# 77 columns as in the reference sheet: an unnamed index, the real-data
# typos (irom, zink, lucopene, theobromine) and carbohydrate/fat, which
# the pipeline does not select.
NUTRIENTS = [
    "total_fat", "saturated_fat", "cholesterol", "sodium", "choline", "folate",
    "folic_acid", "niacin", "pantothenic_acid", "riboflavin", "thiamin",
    "vitamin_a", "vitamin_a_rae", "carotene_alpha", "carotene_beta",
    "cryptoxanthin_beta", "lutein_zeaxanthin", "lucopene", "vitamin_b12",
    "vitamin_b6", "vitamin_c", "vitamin_d", "vitamin_e", "tocopherol_alpha",
    "vitamin_k", "calcium", "copper", "irom", "magnesium", "manganese",
    "phosphorous", "potassium", "selenium", "zink", "protein", "alanine",
    "arginine", "aspartic_acid", "cystine", "glutamic_acid", "glycine",
    "histidine", "hydroxyproline", "isoleucine", "leucine", "lysine",
    "methionine", "phenylalanine", "proline", "serine", "threonine",
    "tryptophan", "tyrosine", "valine", "carbohydrate", "fiber", "sugars",
    "fructose", "galactose", "glucose", "lactose", "maltose", "sucrose", "fat",
    "saturated_fatty_acids", "monounsaturated_fatty_acids",
    "polyunsaturated_fatty_acids", "fatty_acids_total_trans", "alcohol", "ash",
    "caffeine", "theobromine", "water",
]
NUTRITION_HEADER = ["", "name", "serving_size", "calories", *NUTRIENTS]
assert len(NUTRITION_HEADER) == 77
_UNITS = ("g", "mg", "mcg", "IU")

VEGETABLES = ["Carrots", "Sweet Potato", "Lettuce", "Spinach", "Broccoli", "Kale",
              "Peppers", "Tomatoes", "Cucumber", "Beets"]
PROTEINS = ["Eggs", "Milk", "Chicken", "Tofu", "Fish", "Lentils", "Beans", "Yogurt",
            "Red meats", "Nuts"]
JUICES = ["Fruit Juice", "Watermelon Juice", "Carrot Juice", "Green Smoothie",
          "Apple Juice", "Mango Juice"]
EXERCISES = ["Squats", "deadlifts", "bench presses", "overhead presses",
             "Running", "cycling", "Swimming", "Walking", "Yoga", "pilates"]
WORKOUT_TYPES = ["Yoga", "HIIT", "Cardio", "Strength"]
FOOD_WORDS = ["Cornstarch", "Rice", "Oats", "Bread", "Cheese", "Butter", "Apple",
              "Salmon", "Beef", "Pasta", "Almond", "Honey", "Tuna", "Potato"]
FOOD_STYLES = ["raw", "cooked", "baked", "boiled", "dried", "canned", "frozen"]


# -- expected warehouse counts (plain Python) -------------------------------

_BLOB_SPLIT = re.compile(r"[,\n]| and ")


def blob_items(text: str | None) -> set[str]:
    """Items of a multi-value text blob: lower-case, split on comma,
    newline or ' and ', strip, drop empties."""
    if text is None or text == "":
        return set()
    return {s.strip() for s in _BLOB_SPLIT.split(text.lower())} - {""}


def _int_or_none(s: str) -> int | None:
    try:
        return int(float(s))
    except ValueError:
        return None


def _profile_key(age: str, gender: str, height: str, weight: str):
    a = _int_or_none(age)
    if a is None:
        return None
    return (a, gender.lower(), round(float(height), 2), round(float(weight), 1))


def _us_date(text: str) -> date:
    """Calendar day of an ``M/d/yyyy[ h:mm:ss a]`` value."""
    m, d, y = text.split(" ")[0].split("/")
    return date(int(y), int(m), int(d))


def _in_range(d: date) -> bool:
    return DIM_DATE_FIRST <= d <= DIM_DATE_LAST


def expected_counts(rows: dict[str, list[list]]) -> dict[str, object]:
    """Warehouse row counts the generated inputs must produce.

    An int is an exact count; a ``[lo, hi]`` pair bounds the seeded sample
    of Fact_NutritionLog, whose contents are the program's own choice."""
    m_first: dict[tuple, list] = {}
    for r in rows["mendeley"]:
        key = _profile_key(str(r[2]), r[1], str(r[3]), str(r[4]))
        if key is not None and key not in m_first:
            m_first[key] = r
    g_new: dict[tuple, list] = {}
    for r in rows["gym"]:
        key = _profile_key(str(r[0]), r[1], str(r[3]), str(r[2]))
        if key is not None and key not in m_first and key not in g_new:
            g_new[key] = r
    fitbit_ids = {r[0] for name in ("daily", "hr", "hourly", "weight", "sleep")
                  for r in rows[name]}
    users = len(m_first) + len(g_new) + len(fitbit_ids)

    conditions = sum((r[5] == "Yes") + (r[6] == "Yes") for r in m_first.values())
    workout = sum(1 for r in g_new.values() if blob_items(r[9]))
    diet = sum(len(blob_items(r[13])) for r in m_first.values())

    sessions = sum(
        1 for r in rows["daily"]
        if r[10] + r[11] > 0 and _in_range(_us_date(r[1]))
    )
    sleep_days = {(u, _us_date(t)) for u, t in
                  {(r[0], r[1].split(" ", 1)[0]) for r in rows["sleep"]}}
    hr_days = {(u, _us_date(t)) for u, t in
               {(r[0], r[1].split(" ", 1)[0]) for r in rows["hr"]}}
    metrics = (
        sum(1 for _, d in sleep_days if _in_range(d))
        + sum(1 for _, d in hr_days if _in_range(d))
        + 2 * sum(1 for r in rows["weight"] if _in_range(_us_date(r[1])))
    )
    foods = len({r[1] for r in rows["nutrition"] if r[1] != ""})
    k = min(NUTRITION_LOG_USERS, users)
    return {
        "Dim_User": users,
        "Dim_FoodItem": foods,
        "Bridge_User_HealthCondition": conditions,
        "Bridge_User_WorkoutPreference": workout,
        "Bridge_User_DietPreference": diet,
        "Fact_UserSnapshot": users,
        "Fact_WorkoutSession": sessions,
        "Fact_HealthMetric": metrics,
        "Fact_NutritionLog": [k * 3 * 3, k * 5 * 5] if foods else [0, 0],
    }


def counts_mismatch(expected: dict[str, object], actual: dict[str, int]) -> list[str]:
    """Tables whose count differs from (or falls outside) the expectation."""
    bad = []
    for table, want in expected.items():
        got = actual.get(table)
        if isinstance(want, list):
            ok = got is not None and want[0] <= got <= want[1]
        else:
            ok = got == want
        if not ok:
            bad.append(f"{table}: expected {want}, got {got}")
    return bad


# -- row generators ---------------------------------------------------------


def _fmt_date(d: date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _fmt_ts(d: date, seconds: int) -> str:
    h, rem = divmod(seconds, 3600)
    mi, s = divmod(rem, 60)
    ampm = "AM" if h < 12 else "PM"
    h12 = h % 12 or 12
    return f"{d.month}/{d.day}/{d.year} {h12}:{mi:02d}:{s:02d} {ampm}"


def _listed(items: list[str]) -> str:
    return ", ".join(items[:-1]) + ", and " + items[-1]


def _diet(rng: random.Random) -> str:
    # shaped like the reference sheet: three sections of "a, b, and c"
    # lists, ~12.5 distinct blob items per profile
    return "; ".join([
        f"Vegetables: ({_listed(rng.sample(VEGETABLES, rng.randint(3, 5)))})",
        f"Protein Intake: ({_listed(rng.sample(PROTEINS, rng.randint(5, 8)))})",
        f"Juice: ({_listed(rng.sample(JUICES, rng.randint(3, 5)))})",
    ])


def _bmi(weight: float, height: float, rng: random.Random) -> float:
    # planted out-of-range values (the real sheet has 9.52, 9.83 and 70.0)
    if rng.random() < 0.02:
        return rng.choice([9.52, 9.83, 70.0, 72.4])
    return round(weight / (height * height), 2)


def _mendeley_rows(rng: random.Random, s: Sizes) -> list[list]:
    profiles = []
    for _ in range(s.mendeley_profiles):
        sex = rng.choice(["Male", "Female"])
        height = round(rng.uniform(1.3, 2.03), 2)
        weight = round(rng.uniform(32.0, 130.0), 1)
        bmi = _bmi(weight, height, rng)
        level = ("Underweight" if bmi < 18.5 else "Normal" if bmi < 25
                 else "Overweight" if bmi < 30 else "Obuse")
        goal = rng.choice(["Weight Gain", "Weight Loss"])
        ftype = rng.choice(["Muscular Fitness", "Cardio Fitness"])
        ex = rng.sample(EXERCISES, rng.randint(2, 4))
        exercises = _listed(ex)
        profiles.append([
            sex, rng.randint(18, 63), height, weight,
            rng.choice(["Yes", "No", "No"]), rng.choice(["Yes", "No", "No", "No"]),
            bmi, level, goal, ftype, exercises,
            rng.choice(["Dumbbells and barbells", "Treadmill", "Kettlebells", "None"]),
            _diet(rng),
            f"Follow a {ftype.lower()} plan with {ex[0].lower()} {rng.randint(3, 5)}"
            f" days a week and track {goal.lower()} progress weekly.",
        ])
    rows = []
    for i in range(s.mendeley_rows):
        # the first pass covers every profile once; the rest are exact
        # duplicates of earlier rows
        p = profiles[i] if i < len(profiles) else rng.choice(profiles)
        rows.append([i + 1, p[0], p[1], p[2], p[3], *p[4:]])
    # one unparseable age
    bad = rng.randrange(len(profiles), s.mendeley_rows)
    rows[bad][2] = "abc"
    return rows


def _gym_rows(rng: random.Random, s: Sizes, mendeley: list[list]) -> list[list]:
    rows = []
    for i in range(s.gym_rows):
        roll = rng.random()
        wtype = rng.choice(WORKOUT_TYPES)
        if roll < 0.1 and mendeley:
            # cross-source match: same (age, gender, height, weight)
            # (the first mendeley_profiles rows never carry the bad age)
            m = rng.choice(mendeley[: s.mendeley_profiles])
            age, gender, height, weight, bmi = m[2], m[1], m[3], m[4], m[7]
        elif roll < 0.15 and rows:
            # in-source duplicate profile
            prev = rng.choice(rows)
            age, gender, weight, height, bmi = prev[0], prev[1], prev[2], prev[3], prev[14]
        else:
            age = rng.randint(18, 59)
            gender = rng.choice(["Male", "Female"])
            height = round(rng.uniform(1.5, 2.0), 2)
            weight = round(rng.uniform(40.0, 129.9), 1)
            bmi = round(weight / (height * height), 2)
        rows.append([
            age, gender, weight, height, rng.randint(160, 199), rng.randint(120, 169),
            rng.randint(50, 74), round(rng.uniform(0.5, 2.0), 2),
            float(rng.randint(300, 1800)), wtype, round(rng.uniform(10, 35), 1),
            round(rng.uniform(1.5, 3.7), 1), rng.randint(2, 5), rng.randint(1, 3), bmi,
        ])
    return rows


def _nutrition_rows(rng: random.Random, s: Sizes) -> list[list]:
    # nutrient cells draw from a seeded pool: 677k per-cell formats would
    # dominate the generator's time at reference size
    pool = [f"{rng.uniform(0, 50):.2f} {rng.choice(_UNITS)}" for _ in range(4096)]
    rows = []
    for i in range(s.nutrition_rows):
        roll = rng.random()
        if roll < 0.01:
            name = ""  # blank name: dropped
        elif roll < 0.04 and rows:
            name = rng.choice(rows)[1]  # duplicate name: first one kept
        else:
            name = f"{rng.choice(FOOD_WORDS)}, {rng.choice(FOOD_STYLES)} {i}"
        cells = [i, name, "100 g", rng.randint(0, 900)]
        cells.extend(pool[rng.getrandbits(12)] for _ in NUTRIENTS)
        rows.append(cells)
    return rows


def _fitbit_rows(rng: random.Random, s: Sizes) -> dict[str, list[list]]:
    ids = sorted(rng.sample(range(1_000_000_000, 9_999_999_999), s.fitbit_users))
    days = [FITBIT_START + timedelta(days=d) for d in range(s.days)]
    grid = [(uid, d) for uid in ids for d in days]
    before_range = date(2015, 12, 31)
    # time of day as the files write it, by second
    tod = [_fmt_ts(FITBIT_START, sec).split(" ", 1)[1] for sec in range(86_400)]

    daily = []
    user_days = sorted(rng.sample(range(len(grid)), s.daily_rows - PRE_RANGE_USERS))
    for uid, d in [(ids[i], before_range) for i in range(PRE_RANGE_USERS)] + [
            grid[i] for i in user_days]:
        if rng.random() < ZERO_ACTIVITY_SHARE:
            very, fairly = 0, 0  # zero-activity day: no workout session
        else:
            very, fairly = rng.randint(0, 90), rng.randint(1, 60)
        steps = rng.randint(0, 25_000)
        dist = round(steps * 0.00065, 2)
        daily.append([
            uid, _fmt_date(d), steps, dist, dist, 0, round(dist * 0.3, 2),
            round(dist * 0.1, 2), round(dist * 0.5, 2), 0, very, fairly,
            rng.randint(50, 350), rng.randint(500, 1300), rng.randint(1200, 4200),
        ])

    hourly = []
    for slot in sorted(rng.sample(range(len(grid) * 24), s.hourly_rows)):
        uid, d = grid[slot // 24]
        hourly.append([uid, f"{_fmt_date(d)} {tod[slot % 24 * 3600]}", rng.randint(40, 200)])

    hr = []
    step = max(1, min(30, 57_600 // s.hr_per_day))  # seconds between samples
    for uid in sorted(rng.sample(ids, s.hr_users)):
        for d in days:
            prefix = _fmt_date(d) + " "
            start = rng.randint(0, 86_400 - step * s.hr_per_day)
            for k in range(s.hr_per_day):
                hr.append([uid, prefix + tod[start + step * k], 50 + rng.getrandbits(7)])

    sleep = []
    for i in sorted(rng.sample(range(len(grid)), s.sleep_nights)):
        uid, d = grid[i]
        prefix = _fmt_date(d) + " "
        log_id = rng.randint(10**10, 10**11)
        start = rng.randint(0, 3 * 3600)
        for k in range(s.sleep_min_per_night):
            sleep.append([uid, prefix + tod[start + 60 * k], rng.choice([1, 1, 1, 2]), log_id])
    sleep.append([ids[0], _fmt_ts(before_range, 3600), 1, 11_114_919_000])

    weight = []
    for _ in range(s.weight_logs):
        uid = rng.choice(ids)
        d = rng.choice(days)
        kg = round(rng.uniform(50, 130), 1)
        bmi = rng.choice([9.1, 61.5]) if rng.random() < 0.1 else round(rng.uniform(18, 40), 2)
        weight.append([
            uid, _fmt_ts(d, 86_399), kg, round(kg * 2.20462, 1),
            rng.choice(["", str(rng.randint(15, 30))]), bmi,
            rng.choice(["True", "False"]), rng.randint(10**12, 2 * 10**12),
        ])
    return {"daily": daily, "hr": hr, "hourly": hourly, "sleep": sleep, "weight": weight}


# -- writers ----------------------------------------------------------------


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _col_letters(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """One-sheet workbook: strings through the shared-string table, ints
    and floats as numeric cells, empty strings as absent cells."""
    shared: dict[str, int] = {}
    cols = [_col_letters(i) for i in range(len(header))]
    out = io.StringIO()
    out.write(
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<worksheet xmlns="{_MAIN_NS}" xmlns:r="{_REL_NS}"><sheetData>'
    )
    for r_idx, row in enumerate([header, *rows], start=1):
        cells = []
        for col, v in zip(cols, row):
            ref = f"{col}{r_idx}"
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            elif v != "":
                idx = shared.setdefault(v, len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        out.write(f'<row r="{r_idx}">{"".join(cells)}</row>')
    out.write("</sheetData></worksheet>")
    sst = "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in shared)
    parts = {
        "[Content_Types].xml": _CONTENT_TYPES,
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?>\n<Relationships xmlns="{_PKG_REL_NS}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
            '2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?>\n<workbook xmlns="{_MAIN_NS}" '
            f'xmlns:r="{_REL_NS}"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?>\n<Relationships xmlns="{_PKG_REL_NS}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
            '2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/'
            '2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>'
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?>\n<sst xmlns="{_MAIN_NS}" '
            f'count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>'
        ),
        "xl/worksheets/sheet1.xml": out.getvalue(),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"), compresslevel=1)


# -- entry point ------------------------------------------------------------

FILES = {
    "mendeley": ("gym_recommendation.xlsx", MENDELEY_HEADER),
    "gym": ("gym_members_exercise_tracking.csv", GYM_HEADER),
    "nutrition": ("nutrition.xlsx", NUTRITION_HEADER),
    "daily": ("fitbit/dailyActivity_merged.csv", DAILY_HEADER),
    "hr": ("fitbit/heartrate_seconds_merged.csv", ["Id", "Time", "Value"]),
    "hourly": ("fitbit/hourlyCalories_merged.csv", ["Id", "ActivityHour", "Calories"]),
    "weight": ("fitbit/weightLogInfo_merged.csv",
               ["Id", "Date", "WeightKg", "WeightPounds", "Fat", "BMI",
                "IsManualReport", "LogId"]),
    "sleep": ("fitbit/minuteSleep_merged.csv", ["Id", "date", "value", "logId"]),
}


def make_rows(seed: int, sizes: Sizes) -> dict[str, list[list]]:
    rng = random.Random(seed)
    mendeley = _mendeley_rows(rng, sizes)
    rows = {
        "mendeley": mendeley,
        "gym": _gym_rows(rng, sizes, mendeley),
        "nutrition": _nutrition_rows(rng, sizes),
    }
    rows.update(_fitbit_rows(rng, sizes))
    return rows


def write_inputs(out_dir: str, rows: dict[str, list[list]]) -> dict[str, dict]:
    """Write every source under ``out_dir/data``; returns per-file rows and
    bytes keyed by source name."""
    data = os.path.join(out_dir, "data")
    described = {}
    for key, (rel, header) in FILES.items():
        path = os.path.join(data, rel)
        if rel.endswith(".xlsx"):
            write_xlsx(path, header, rows[key])
        else:
            _write_csv(path, header, rows[key])
        described[key] = {"file": rel, "rows": len(rows[key]),
                          "bytes": os.path.getsize(path)}
    return described


def generate(out_dir: str, seed: int, sizes: Sizes = REFERENCE) -> dict:
    """Write the inputs; returns {data_dir, files, expected, sizes}."""
    rows = make_rows(seed, sizes)
    files = write_inputs(out_dir, rows)
    return {
        "data_dir": os.path.join(out_dir, "data"),
        "files": files,
        "expected": expected_counts(rows),
        "sizes": asdict(sizes),
    }


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="reference")
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, SIZES[a.size]), indent=1))
