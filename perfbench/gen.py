"""Seeded inputs for the ``daily_etl`` workload. (``corpus_prep`` needs no
generator: it reads the sf0.1 corpus files kept in ``perfbench/data/``.)

Everything here is pure Python driven by ``random.Random`` instances derived
from the workload seed, so the same seed yields byte-identical files. The
program under test never sees the seed, only the files.

- :class:`PetsFeed` — daily licensed-pets CSV drops (a large first date, the
  FIXTURES.md §1 edge rows, ~20% of ``_id``s re-sent from earlier days, one empty date) plus one
  breed-mapping upsert batch per date. It also keeps the expected outcome:
  new rows per date and the Silver rows the pipeline must hold, from which
  the expected gold totals and Silver health follow.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field
from datetime import date, timedelta

START_DATE = date(2025, 1, 1)
YEARS = (2023, 2024, 2025)
FSA_CODES = tuple(
    f"{a}{d}{b}" for a in "KLMN" for d in "1469" for b in "ACEHJ"
)  # 80 valid codes
INVALID_FSA = ("M44", "XYZ1", "9AB", "MM4")

# Spellings the pipeline's seed mapping resolves (case, punctuation, word
# order and truncation variants of its standards).
DOG_MAPPED = (
    "Golden Retriever", "golden retriever", "GOLDEN-RETRIEVER",
    "Retriever Golden", "Golden Retr.", "LABRADOR RETRIEVER",
    "Labrador Retr.", "German Shepherd", "POODLE", "Beagle", "bulldog",
    "CHIHUAHUA", "Shih Tzu", "HUSKY",
)
CAT_MAPPED = (
    "TABBY", "Siamese", "persian", "Maine Coon", "MAINE-COON", "Bengal",
    "RAGDOLL", "Sphynx", "BOMBAY", "Burmese",
)
# Never mapped: Silver falls back to the raw spelling.
UNMAPPED = ("MIXED", "DOMESTIC SHORTHAIR", "UNKNOWN", "MUTT")

# Standards introduced later through upsert batches ("emerging" breeds).
_ADJ = ("ALPINE", "ARCTIC", "BORDER", "COASTAL", "DESERT", "HIGHLAND",
        "ISLAND", "NORDIC", "PRAIRIE", "VALLEY")
_NOUN = ("HOUND", "TERRIER", "SPANIEL", "SETTER", "POINTER", "SHORTHAIR",
         "LONGHAIR", "REX", "MAU", "CURL")
EMERGING = tuple(f"{a} {n}" for a in _ADJ for n in _NOUN)
NEW_PER_BATCH = 3
EMPTY_DAY = 1  # the date whose directory holds no CSV
RESEND_SHARE = 0.2  # share of a drop's _ids re-sent from earlier dates

CSV_HEADER = "_id,Year,FSA,ANIMAL_TYPE,PRIMARY_BREED\n"


def normalize_key(text: str) -> str:
    """Python twin of the pipeline's breed key: upper, trim, keep A-Z0-9."""
    return re.sub(r"[^A-Z0-9]", "", text.strip(" ").upper())


def skewed(rng: random.Random, items, alpha: float = 1.2):
    """Pareto-skewed pick: the first items are drawn far more often."""
    return items[min(int(rng.paretovariate(alpha)) - 1, len(items) - 1)]


def _csv_field(value: object) -> str:
    if value is None:
        return ""  # unquoted empty field reads back as NULL
    s = str(value)
    if s != s.strip(" ") or "," in s or '"' in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def _emerging_variants(standard: str) -> list[str]:
    return [standard, standard.lower(), standard.replace(" ", "-")]


@dataclass(frozen=True)
class Drop:
    """One ingestion date: CSV bytes (None = empty date directory), the
    mapping batch applied after it, and the rows the pipeline must land."""

    day: date
    csv: bytes | None
    mapping_batch: tuple[tuple[str, str], ...]
    new_rows: int  # Bronze rows (fresh _ids)
    silver_rows: int  # of which reach Silver (non-null breed)
    batch_inserts: int  # batch keys the mapping does not hold yet


@dataclass
class PetsFeed:
    """Deterministic day-by-day feed; ``drop(i)`` must be called in order.

    The first date holds ``first_rows`` rows (default ``rows_per_day``), every
    later non-empty date ``rows_per_day``. ``mapping_keys`` is the
    pipeline's seed mapping (normalized keys); the feed adds each batch's
    keys after that date's run, as the workload applies the batch after
    running the date, and records for every Silver row whether its key was
    mapped when the row landed.
    """

    seed: int
    rows_per_day: int
    mapping_keys: set[str]
    first_rows: int | None = None
    _next_id: int = 1
    _ids: list[int] = field(default_factory=list)
    _emerging_done: int = 0
    _drops: list[Drop] = field(default_factory=list)
    # Silver rows as (Year, ANIMAL_TYPE, mapped) per landed _id.
    silver: dict[int, tuple[int | None, str, bool]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.mapping_keys = set(self.mapping_keys)

    def drop(self, i: int) -> Drop:
        while len(self._drops) <= i:
            self._drops.append(self._make(len(self._drops)))
        return self._drops[i]

    def _make(self, i: int) -> Drop:
        day = START_DATE + timedelta(days=i)
        rng = random.Random(f"pets:{self.seed}:{i}")
        batch = self._batch(rng)
        inserts = sum(1 for k, _ in batch if k not in self.mapping_keys)
        if i == EMPTY_DAY:
            self.mapping_keys.update(k for k, _ in batch)
            return Drop(day, None, batch, 0, 0, inserts)
        n = self.first_rows if i == 0 and self.first_rows else self.rows_per_day
        n_resend = int(n * RESEND_SHARE) if self._ids else 0
        resent = rng.sample(self._ids, min(n_resend, len(self._ids)))
        fresh = list(range(self._next_id, self._next_id + n - len(resent)))
        self._next_id += len(fresh)
        ids = fresh + resent
        rng.shuffle(ids)
        fresh_set = set(fresh)
        lines = [CSV_HEADER]
        silver_rows = 0
        for _id in ids:
            year, fsa, animal, breed = self._row(rng)
            lines.append(",".join(_csv_field(v) for v in (_id, year, fsa, animal, breed)) + "\n")
            if _id in fresh_set and breed is not None:
                mapped = normalize_key(breed) in self.mapping_keys
                self.silver[_id] = (year, animal.strip(" ").upper(), mapped)
                silver_rows += 1
        self._ids.extend(fresh)
        self.mapping_keys.update(k for k, _ in batch)
        return Drop(day, "".join(lines).encode(), batch, len(fresh),
                    silver_rows, inserts)

    def _batch(self, rng: random.Random) -> tuple[tuple[str, str], ...]:
        """New variant keys for the next emerging standards plus up to two
        keys batched before (the MERGE update path)."""
        lo = self._emerging_done
        hi = min(lo + NEW_PER_BATCH, len(EMERGING))
        self._emerging_done = hi
        rows = {}
        for std in EMERGING[lo:hi]:
            for v in _emerging_variants(std):
                rows[normalize_key(v)] = std
        for std in rng.sample(EMERGING[:lo], min(2, lo)):
            rows.setdefault(normalize_key(std), std)
        return tuple(sorted(rows.items()))

    def _row(self, rng: random.Random):
        r = rng.random()
        year = None if r < 0.01 else rng.choices(YEARS, (2, 3, 5))[0]
        r = rng.random()
        if r < 0.005:
            fsa = None
        elif r < 0.035:
            fsa = rng.choice(INVALID_FSA)
        else:
            code = skewed(rng, FSA_CODES)  # a few FSAs hold most rows
            fsa = f" {code.lower()} " if r < 0.065 else code
        is_dog = rng.random() < 0.6
        animal = rng.choice(("DOG", "DOG", "dog ", "Dog") if is_dog else ("CAT", "CAT", " Cat", "cat"))
        r = rng.random()
        if r < 0.05:
            breed = None
        elif r < 0.20:
            breed = rng.choice(UNMAPPED)
        elif r < 0.32:
            # Emerging breeds: the ones batched soon and some already mapped.
            hi = min(self._emerging_done + 2 * NEW_PER_BATCH, len(EMERGING))
            breed = rng.choice(_emerging_variants(EMERGING[rng.randrange(hi)]))
        else:
            breed = rng.choice(DOG_MAPPED if is_dog else CAT_MAPPED)
        return year, fsa, animal, breed

    # --- expectations over everything generated so far -------------------

    def loaded_dates(self) -> int:
        return sum(1 for d in self._drops if d.csv is not None)

    def expected_totals(self) -> dict[tuple[int, str], int]:
        """v_totals_by_year_type counts: Silver rows with a Year."""
        out: dict[tuple[int, str], int] = {}
        for year, animal, _ in self.silver.values():
            if year is not None:
                out[(year, animal)] = out.get((year, animal), 0) + 1
        return out

    def expected_silver_health(self) -> dict[str, int]:
        mapped = sum(1 for _, _, m in self.silver.values() if m)
        n = len(self.silver)
        return {"row_cnt": n, "distinct_ids": n, "mapped_cnt": mapped,
                "unmapped_cnt": n - mapped}


def write_drop(raw_root: str, drop: Drop) -> None:
    """Land a drop under ``raw_root/ingestion_date=YYYY-MM-DD/``."""
    d = os.path.join(raw_root, f"ingestion_date={drop.day.isoformat()}")
    os.makedirs(d, exist_ok=True)
    if drop.csv is not None:
        with open(os.path.join(d, "part-0.csv"), "wb") as fh:
            fh.write(drop.csv)
