"""Seeded inputs for the three workloads, and the expected-state models the
outputs are checked against.

Everything here is plain Python (plus numpy/pyarrow for bulk tables): the
program under test sees only the files these functions write.  The same seed
always yields the same files and the same expected states.

Row digests are the checksum currency shared by the Spark side, the DuckDB
side and the Python models: md5 over the columns joined by ``\\x1f`` with NULL
spelled ``\\x1e`` and timestamps as ``YYYY-MM-DD HH:MM:SS``; a table's checksum
is ``(rows, sum of digest[0:8] as int, sum of digest[8:16] as int)``, which
does not depend on row order.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from xml.sax.saxutils import escape

STAGE_COLS = [
    "job_title",
    "link",
    "entry_title",
    "published",
    "feed_title",
    "reader",
    "time_window",
    "summary",
    "notes",
]
FILTERED_COLS = STAGE_COLS + ["AS_OF_DT"]
TS_FMT = "%Y-%m-%d %H:%M:%S"
SEP, NUL = "\x1f", "\x1e"

WORDS = """
data pipeline platform team build scale reliable systems customers product
analytics warehouse streaming batch model models design review code quality
cloud services infrastructure deploy monitor latency throughput storage query
queries tables schema python java scala sql spark kafka airflow dbt docker
kubernetes terraform metrics dashboards reporting stakeholders partner lead
mentor engineers growth mission impact ownership remote hybrid office benefits
equity salary health dental vision leave learning budget flexible hours travel
experience degree computer science statistics mathematics equivalent practical
strong written verbal communication collaborate cross functional roadmap ship
features iterate test automate observability incident response oncall rotation
security privacy compliance governance lineage catalog ingestion transform load
orchestration performance cost efficient optimize debug troubleshoot maintain
document architecture distributed fault tolerant consistent available durable
realtime events logs traces alerts capacity planning forecasting experiments
""".split()
STOPWORDS = "the and of to with for in on a our you we will is are this".split()
POOL = WORDS + STOPWORDS * 4  # about one word in five is a stopword
LEVELS = ["", "Senior", "Staff", "Principal", "Lead", "Junior", "Associate"]
ROLES = [
    "Data Engineer",
    "Analytics Engineer",
    "Machine Learning Engineer",
    "Platform Engineer",
    "Data Scientist",
    "Software Engineer, Data",
    "Engineering Manager",
    "Director of Data",
    "Head of Analytics",
    "Chief Data Officer",
    "BI Developer",
    "Database Administrator",
]
# phrases that the exclusion keywords below hit (summary side)
SUMMARY_PHRASES = [
    "10+ years of experience",
    "15+ years in the field",
    "security clearance required",
    "relocation to the office",
    "C++ and Rust",
    "(contract) position",
    "on-site five days",
    "travel 50% of the time",
]
TITLE_KEYWORDS = [
    "Director", "Manager", "Head of", "Chief", "VP", "Principal", "Staff",
    "Lead", "Intern", "Sales", "Recruiter", "Architect", "Consultant",
    "Administrator", "Officer", "President", "Partner", "Contract", "Temp",
    "Part-time", "Clearance", "Secret", "Onsite", "Relocation", "Unpaid",
    "Volunteer", "Commission", "Marketing", "Support", "Technician",
    "Junior", "Associate", "Apprentice", "Trainee", "Graduate", "Student",
    "Freelance", "Agency", "(remote)", "C++", "Sr.", "II", "III", "IV",
    "Fellow", "Executive", "Owner", "Founder", "Advisor", "Analyst",
]
SUMMARY_KEYWORDS = [
    "10+ years", "15+ years", "12+ years", "20+ years", "clearance",
    "relocation", "on-site", "travel 50%", "C++", "(contract)", "polygraph",
    "citizenship", "night shift", "weekend", "commission only", "unpaid",
    "internship", "phd required", "cold calling", "quota", "door to door",
    "mlm", "crypto", "forex", "gambling", "tobacco", "firearms", "payday",
    "debt collection", "telemarketing", "sales targets", "no benefits",
    "1099", "temp to hire", "agency", "staffing", "recruiting firm",
    "background check", "drug test", "valid license", "own vehicle",
    "heavy lifting", "standing", "warehouse shifts", "retail", "cashier",
    "call center", "customer service", "data entry", "typing",
]


def fmt_ts(dt: datetime) -> str:
    return dt.strftime(TS_FMT)


def row_digest(values) -> tuple[int, int]:
    """The (lane0, lane1) integers of one row's md5 digest."""
    s = SEP.join(NUL if v is None else v for v in values)
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def checksum(rows) -> tuple[int, int, int]:
    n = a = b = 0
    for r in rows:
        x, y = row_digest(r)
        n, a, b = n + 1, a + x, b + y
    return n, a, b


# --------------------------------------------------------------------------
# feed_cycle: RSS feeds, pre-seeded history, cron cycles
# --------------------------------------------------------------------------

T0 = datetime(2024, 6, 1, 6, 0, 0)  # as_of of cycle 0
CYCLE = timedelta(hours=12)  # two cron runs a day
HISTORY_DAYS = 90
NEW_PER_FEED = 4  # new items per feed and cycle, on average
HISTORY_BATCHES = 20  # the pre-seeded history holds about this many batches
SUMMARY_WORDS = (100, 250)
REDELIVER_SHARE = 0.5  # of a feed's previous items, delivered again
UPDATE_SHARE = 0.1  # of the re-delivered items, with a new title and summary


@dataclass
class Feed:
    idx: int
    title: str
    reader: str
    time: str
    job_title: str
    path: str
    iso_dates: bool  # pubDate as ISO-8601 instead of RFC-822
    last: list = field(default_factory=list)  # entries delivered last time


@dataclass
class Entry:
    link: str
    title: str  # raw, may carry irregular whitespace
    published: datetime | None  # None: no pubDate in the item
    html: str
    text: str  # what the HTML cleans to


@dataclass
class CycleInput:
    index: int
    as_of: str
    entries_delivered: int  # items in feeds that could be read
    feeds_failed: int
    batch: list  # expected cleaned stage rows, before validation and dedup


def _title(rng: random.Random) -> str:
    lvl = rng.choice(LEVELS)
    t = f"{lvl} {rng.choice(ROLES)}".strip()
    if rng.random() < 0.05:
        t = t.replace(" ", "  \n ", 1)  # collapse_whitespace must fix this
    return t


def _summary(rng: random.Random, n_words: int, serial: int) -> tuple[str, str]:
    """(html, text): realistic job-ad HTML and the text it cleans to.

    Tags render as separators, ``&amp;``/``&nbsp;`` decode, and the anchor
    renders as ``text (url)`` — the cleaning rules of the stage table.
    """
    html: list[str] = []
    text: list[str] = []
    left = n_words
    while left > 0:
        k = min(left, rng.randint(25, 70))
        words = rng.choices(POOL, k=k)
        if rng.random() < 0.3:
            words.insert(rng.randrange(len(words) + 1), "R&amp;D")
        if rng.random() < 0.2:
            words.insert(rng.randrange(len(words) + 1), "pay&nbsp;range")
        rendered = [w.replace("&amp;", "&").replace("&nbsp;", " ") for w in words]
        if rng.random() < 0.5:
            i = rng.randrange(len(words))
            words[i] = f"<b>{words[i]}</b>"
        html.append("<p>" + " ".join(words) + "</p>")
        text.extend(rendered)
        left -= k
    items = [rng.choice(WORDS) + " " + rng.choice(WORDS) for _ in range(rng.randint(2, 5))]
    if rng.random() < 0.12:
        items.append(rng.choice(SUMMARY_PHRASES))
    html.append("<ul>" + "".join(f"<li>{it}</li>" for it in items) + "</ul>")
    text.extend(items)
    url = f"https://careers.example.com/apply/{serial}"
    html.append(f'<p><a href="{url}">Apply now</a></p>')
    text.append(f"Apply now ({url})")
    return "\n".join(html), " ".join(" ".join(text).split())


class FeedWorld:
    """The feed sites and their history.  ``cycle(c)`` writes every feed file
    for cron cycle ``c`` and returns the expected cleaned rows."""

    def __init__(self, seed: int, root: str, n_feeds: int = 200, broken_share: float = 0.02):
        self.rng = random.Random(seed)
        self.seed = seed
        self.broken_share = broken_share
        self.serial = 0
        os.makedirs(os.path.join(root, "feeds"), exist_ok=True)
        rng = self.rng
        self.feeds = [
            Feed(
                idx=i,
                title=f"{rng.choice(ROLES)} jobs #{i:03d}",
                reader=rng.choice(["indeed", "linkedin", "greenhouse", "lever"]),
                time=rng.choice(["24h", "7d", "12h"]),
                job_title=rng.choice(ROLES),
                path=os.path.join(root, "feeds", f"feed_{i:03d}.xml"),
                iso_dates=rng.random() < 0.2,
            )
            for i in range(n_feeds)
        ]
        self.history = self._history()

    # -- config and history ------------------------------------------------

    def config_rows(self) -> list[tuple]:
        """Rows of the feeds config table (FEEDS_CONFIG_SCHEMA order)."""
        return [
            (f.title, f.reader, f.time, "file://" + f.path, f"ws_{f.idx}", f.job_title)
            for f in self.feeds
        ]

    def _link(self, feed: Feed) -> str:
        self.serial += 1
        return f"https://jobs.example.com/{feed.idx:03d}/{self.seed}-{self.serial}"

    def _stage_row(self, feed: Feed, e: Entry, published: datetime, notes: str = "") -> tuple:
        return (
            feed.job_title,
            e.link,
            " ".join(e.title.split()),
            fmt_ts(published),
            feed.title,
            feed.reader,
            feed.time,
            e.text,
            notes,
        )

    def _new_entry(self, feed: Feed, as_of: datetime, allow_missing_date: bool = True) -> Entry:
        rng = self.rng
        lag = min(rng.expovariate(1 / (16 * 3600)), 47 * 3600)
        published = as_of - timedelta(seconds=max(60, int(lag)))
        if allow_missing_date and rng.random() < 0.01:
            published = None
        link = self._link(feed)
        if rng.random() < 0.003:
            link = "   "  # blank key: validate_keys must drop it
        html, text = _summary(rng, rng.randint(*SUMMARY_WORDS), self.serial)
        return Entry(link, _title(rng), published, html, text)

    def _history(self) -> list[tuple]:
        """Pre-seeded stage rows: HISTORY_BATCHES batches' worth over ~90
        days, plus the deliveries of cycle -1 (which cycle 0 re-delivers)."""
        rng = self.rng
        rows: list[tuple] = []
        n_old = HISTORY_BATCHES * len(self.feeds) * NEW_PER_FEED * 2
        t_prev = T0 - CYCLE
        for _ in range(n_old):
            feed = rng.choice(self.feeds)
            age = timedelta(days=HISTORY_DAYS * rng.random() ** 1.3, seconds=3 * 86400)
            published = t_prev - age
            link = self._link(feed)
            words = rng.choices(POOL, k=rng.randint(40, 90))
            if rng.random() < 0.1:
                words.append(rng.choice(SUMMARY_PHRASES))
            notes = rng.choice(["applied", "reviewed: no", "follow up"]) if rng.random() < 0.1 else ""
            rows.append(
                (
                    feed.job_title,
                    link,
                    " ".join(_title(rng).split()),
                    fmt_ts(published),
                    feed.title,
                    feed.reader,
                    feed.time,
                    " ".join(words),
                    notes,
                )
            )
        for feed in self.feeds:
            feed.last = [self._new_entry(feed, t_prev, allow_missing_date=False)
                         for _ in range(2 * NEW_PER_FEED)]
            for e in feed.last:
                if e.link.strip():
                    notes = "applied" if rng.random() < 0.1 else ""  # SCD1 must keep these
                    rows.append(self._stage_row(feed, e, e.published, notes))
        return rows

    # -- one cron cycle ------------------------------------------------------

    def cycle(self, c: int) -> CycleInput:
        rng = self.rng
        as_of = T0 + c * CYCLE
        delivered: dict[int, list[Entry]] = {}
        for feed in self.feeds:
            keep = [e for e in feed.last if rng.random() < REDELIVER_SHARE]
            out = []
            for e in keep:
                if rng.random() < UPDATE_SHARE:
                    html, text = _summary(rng, rng.randint(*SUMMARY_WORDS), self.serial)
                    e = Entry(e.link, _title(rng), e.published, html, text)
                out.append(e)
            n_new = max(1, NEW_PER_FEED + rng.randint(-4, 4))
            out.extend(self._new_entry(feed, as_of) for _ in range(n_new))
            delivered[feed.idx] = out
        # cross-posts: the same job on a second feed an hour later; keep-last
        # dedup must pick the later copy
        for feed in self.feeds:
            for e in list(delivered[feed.idx]):
                if e.published is not None and e.link.strip() and rng.random() < 0.01:
                    other = rng.choice(self.feeds)
                    if other.idx != feed.idx and not any(x.link == e.link for x in delivered[other.idx]):
                        copy = Entry(e.link, e.title, e.published + timedelta(seconds=rng.randint(60, 3600)),
                                     e.html, e.text)
                        delivered[other.idx].append(copy)
        batch: list[tuple] = []
        failed = entries = 0
        for feed in self.feeds:
            entries_f = delivered[feed.idx]
            r = rng.random()
            if r < self.broken_share / 2:
                if os.path.exists(feed.path):
                    os.remove(feed.path)  # feed unreachable
                failed += 1
                continue
            xml = _rss_xml(feed, entries_f)
            if r < self.broken_share:
                xml = xml[: len(xml) // 2]  # truncated download: parse error
                failed += 1
            with open(feed.path, "w", encoding="utf-8") as fh:
                fh.write(xml)
            if r < self.broken_share:
                continue
            feed.last = entries_f
            entries += len(entries_f)
            for e in entries_f:
                batch.append(self._stage_row(feed, e, e.published or as_of))
        return CycleInput(c, fmt_ts(as_of), entries, failed, batch)


def _rss_xml(feed: Feed, entries: list[Entry]) -> str:
    items = []
    for e in entries:
        if e.published is None:
            date = ""
        elif feed.iso_dates:
            date = f"<pubDate>{e.published.strftime('%Y-%m-%dT%H:%M:%S')}</pubDate>"
        else:
            date = f"<pubDate>{e.published.strftime('%a, %d %b %Y %H:%M:%S +0000')}</pubDate>"
        items.append(
            f"<item><title>{escape(e.title)}</title><link>{escape(e.link)}</link>"
            f"{date}<description>{escape(e.html)}</description>"
            f"<guid>{escape(e.link)}</guid></item>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n<rss version="2.0"><channel>'
        f"<title>{escape(feed.title)}</title><link>https://jobs.example.com/{feed.idx:03d}</link>"
        "<description>job feed</description>" + "\n".join(items) + "</channel></rss>\n"
    )


# --------------------------------------------------------------------------
# expected states
# --------------------------------------------------------------------------


def _blankish(v: str | None) -> bool:
    return v is None or v.strip(" ") in ("", "nan")


class _Table:
    """Rows keyed by link, with the order-independent checksum kept up to
    date as rows change."""

    def __init__(self):
        self.rows: dict[str, tuple] = {}
        self._digest: dict[str, tuple[int, int]] = {}
        self._sums = [0, 0]

    def put(self, key: str, row: tuple) -> None:
        old = self._digest.get(key)
        if old is not None:
            self._sums[0] -= old[0]
            self._sums[1] -= old[1]
        d = row_digest(row)
        self._sums[0] += d[0]
        self._sums[1] += d[1]
        self._digest[key] = d
        self.rows[key] = row

    def checksum(self) -> tuple[int, int, int]:
        return len(self.rows), self._sums[0], self._sums[1]


class StageModel(_Table):
    """Expected stage table under validate → keep-last dedup → SCD1 merge."""

    def __init__(self, history: list[tuple]):
        super().__init__()
        for r in history:
            self.put(r[1], r)

    def apply(self, batch: list[tuple]) -> dict:
        best: dict[str, tuple] = {}
        for r in batch:
            link = r[1]
            if link is None or not link.strip(" "):
                continue
            cur = best.get(link)
            if cur is None or r[3] > cur[3]:
                best[link] = r
        updated = inserted = 0
        for link, r in best.items():
            old = self.rows.get(link)
            if old is None:
                inserted += 1
            else:
                updated += 1
                notes = r[8] if not _blankish(r[8]) else old[8]
                r = r[:8] + (notes,)
            self.put(link, r)
        return {"rows_in": len(batch), "rows_out": len(best), "updated": updated, "inserted": inserted}


@dataclass
class FilterSpec:
    days_back: int
    content_cols: list[str]
    exclude: dict[str, list[str]]

    def as_config(self) -> dict:
        return {
            "date_filter": {"enabled": True, "column": "published", "days_back": self.days_back},
            "require_content": {"enabled": True, "columns": list(self.content_cols)},
            "exclude_by_column": {k: list(v) for k, v in self.exclude.items()},
        }


def filter_rows(rows, as_of: str, spec: FilterSpec) -> list[tuple]:
    """Expected run_filter_pipeline output (no append) as FILTERED_COLS tuples."""
    threshold = fmt_ts(datetime.strptime(as_of, TS_FMT) - timedelta(days=spec.days_back))
    idx = {c: STAGE_COLS.index(c) for c in STAGE_COLS}
    content = [idx[c] for c in spec.content_cols]
    rules = [(idx[c], [k.lower() for k in kws]) for c, kws in spec.exclude.items() if kws]
    out = []
    for r in rows:
        if r[3] is None or r[3] < threshold:
            continue
        if any(_blankish(r[i]) for i in content):
            continue
        if any(r[i] is not None and any(k in r[i].lower() for k in kws) for i, kws in rules):
            continue
        out.append(r + (as_of,))
    return out


class FilteredModel(_Table):
    """Expected append-mode output table: new rows win per link."""

    def apply(self, stage: StageModel, as_of: str, spec: FilterSpec) -> int:
        new = filter_rows(stage.rows.values(), as_of, spec)
        for r in new:
            self.put(r[1], r)
        return len(new)


FEED_CYCLE_FILTER = FilterSpec(
    days_back=7,
    content_cols=["summary"],
    exclude={"entry_title": TITLE_KEYWORDS[:12], "summary": SUMMARY_KEYWORDS[:10]},
)


# --------------------------------------------------------------------------
# user_filters: one shared stage table, many users' filter configs
# --------------------------------------------------------------------------

USER_AS_OF = "2024-09-01 00:00:00"


def stage_table(seed: int, n_rows: int = 300_000):
    """A pyarrow Table in stage schema: ``n_rows`` rows over HISTORY_DAYS days
    before USER_AS_OF, with short summaries (a few blank/'nan' sentinels and
    keyword-bearing phrases so every filter stage is selective)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    end = datetime.strptime(USER_AS_OF, TS_FMT)
    age_s = (rng.random(n_rows) ** 1.3 * HISTORY_DAYS * 86400).astype("int64") + 60
    published = np.datetime64(end, "s") - age_s.astype("timedelta64[s]")
    vocab = np.array(WORDS + STOPWORDS, dtype=object)
    n_words = rng.integers(15, 40, n_rows)
    word_idx = rng.integers(0, len(vocab), (n_rows, 40))
    phrases = np.array(SUMMARY_PHRASES, dtype=object)
    phrase_pick = rng.integers(0, len(phrases), n_rows)
    has_phrase = rng.random(n_rows) < 0.15
    sentinel = rng.random(n_rows)
    summaries = []
    for i in range(n_rows):
        if sentinel[i] < 0.02:
            summaries.append("" if sentinel[i] < 0.01 else "nan")
            continue
        s = " ".join(vocab[word_idx[i, : n_words[i]]])
        if has_phrase[i]:
            s += " " + phrases[phrase_pick[i]]
        summaries.append(s)
    titles_pool = np.array(
        [f"{lvl} {role}".strip() for lvl in LEVELS for role in ROLES], dtype=object
    )
    feeds = 200
    feed_idx = rng.integers(0, feeds, n_rows)
    roles = np.array(ROLES, dtype=object)
    notes = np.where(rng.random(n_rows) < 0.1, "applied", "")
    return pa.table(
        {
            "job_title": pa.array(roles[feed_idx % len(roles)], pa.string()),
            "link": pa.array([f"https://jobs.example.com/u/{seed}-{i}" for i in range(n_rows)], pa.string()),
            "entry_title": pa.array(titles_pool[rng.integers(0, len(titles_pool), n_rows)], pa.string()),
            "published": pa.array(published.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "feed_title": pa.array([f"feed #{i:03d}" for i in feed_idx], pa.string()),
            "reader": pa.array(np.array(["indeed", "linkedin", "greenhouse", "lever"], dtype=object)[feed_idx % 4], pa.string()),
            "time_window": pa.array(np.array(["24h", "7d", "12h"], dtype=object)[feed_idx % 3], pa.string()),
            "summary": pa.array(summaries, pa.string()),
            "notes": pa.array(notes.astype(object), pa.string()),
        }
    )


def user_filter_specs(seed: int, n: int) -> list[FilterSpec]:
    """``n`` seeded per-user filter configs: days_back skewed short, 0-50
    exclusion keywords per column, one or two required content columns."""
    rng = random.Random(seed * 7919 + 1)
    specs = []
    for _ in range(n):
        days = rng.choices([1, 3, 7, 14, 30], weights=[35, 25, 20, 12, 8])[0]
        content = ["summary"] if rng.random() < 0.7 else ["summary", "entry_title"]
        exclude = {
            "entry_title": rng.sample(TITLE_KEYWORDS, rng.randint(0, 50)),
            "summary": rng.sample(SUMMARY_KEYWORDS, rng.randint(0, 50)),
        }
        specs.append(FilterSpec(days, content, exclude))
    return specs


# --------------------------------------------------------------------------
# curation_funnel: documents + embeddings in the test-data schema
# --------------------------------------------------------------------------


def corpus_tables(seed: int, n_docs: int = 600):
    """(documents, embeddings) pyarrow Tables with the schema of the
    engine's test data: 10-99 words per document, 20 sources, 5 languages,
    unit-norm 64-d embeddings for the first 40% of the documents."""
    n_sources, dim, emb_share = 20, 64, 0.4
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    vocab = np.array(WORDS + STOPWORDS, dtype=object)
    n_words = rng.integers(10, 100, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    langs = np.array(["en", "es", "fr", "zh", "de"], dtype=object)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])], pa.string()),
            "source": pa.array([f"src{i % n_sources}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_emb = int(n_docs * emb_share)
    v = rng.standard_normal((n_emb, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype("int32")),
        }
    )
    return docs, emb
