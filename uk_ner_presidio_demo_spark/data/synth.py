"""Deterministic transcript/alias synthesizers (FIXTURES.md §1-4).

Seeded, pure pandas/pyarrow (no Spark needed) so the oracle, the tests and
the bench all read the exact same bytes.  Schema per BASELINE.json input_hint:
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp).

Deliberate properties:
  - one HOT conversation (conv_000000) with HOT_TURNS turns  -> conv skew
  - the "celebrity" entity (Тарас Шевченко) in ~20% of convs -> entity skew
  - empty / whitespace-only / >100k-char rows                -> O-5 rejects
  - the reference demo sentences embedded verbatim           -> parity anchors
    (/root/reference/ui/gradio_interface.py:749-765,
     /root/reference/test/test_analyzer.py:293)
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd

from ..semantics.gazetteer import GAZETTEER
from ..semantics.normalize import norm_surface

SEED = 42
HOT_TURNS = 200
CELEBRITY = "Тарас Шевченко"

TOOLS = ("search", "browser", "calculator", "db_query", "email_client")
ROLES = ("user", "assistant")

# Reference demo sentences — golden anchors (embedded verbatim).
ANCHOR_SENTENCES = (
    "Іван Петренко (ivan.petrenko@example.com) працює в компанії ТОВ 'Приват' "
    "на посаді директора. Його телефон: +380501234567",
    "Рахунок для оплати: UA213223130000026007233566001\n"
    "Картка: 4111111111111111\nСума: 15000 грн",
    "Зустріч відбудеться 15 березня 2024 року о 14:30 за адресою: "
    "вул. Хрещатик, 22, Київ",
    "Іван Петренко працює в ТОВ 'Приват'.\nEmail: ivan@example.com",
    "Email: test@example.com, Phone: +380501234567",
    "Звичайний текст без PII",
)

TEMPLATES = (
    "{PERS} працює в {ORG} на посаді {JOB}.",
    "Контакт: {PERS}, email {EMAIL}, телефон {PHONE}.",
    "Оплата на рахунок {IBAN} від {ORG} на суму {MON}.",
    "Зустріч з {PERS} відбудеться {DATE} о {TIME} у місті {LOC}.",
    "Надішліть звіт на {EMAIL} до {DATE}.",
    "Сайт компанії {ORG}: {URL}, сервер {IP}.",
    "Картка {CARD} належить {PERS}.",
    "Документ: {DOC}, підписант {PERS}, {JOB}.",
    "Знижка {PCT} діє {PERIOD} на {QUANT}.",
    "{PERS} читає {ART} у {LOC}.",
    "Платіж {MON} криптогаманець {CRYPTO}.",
    "Звичайне повідомлення без сутностей, номер заявки у тексті відсутній.",
    "Дякую, все зрозуміло.",
    "{PERS} та {PERS2} обговорюють {ORG} ({URL}).",
    "Телефонуйте {PHONE} або пишіть {EMAIL} щодо {DOC}.",
)

_BY_TYPE: dict[str, list[str]] = {}
for _s, (_t, _sc) in GAZETTEER.items():
    _BY_TYPE.setdefault(_t, []).append(_s)
for _v in _BY_TYPE.values():
    _v.sort()


def _synth_pools(rng: random.Random) -> dict[str, list[str]]:
    first = ["ivan", "maria", "olena", "taras", "andriy", "oksana", "petro",
             "iryna", "serhiy", "yulia"]
    last = ["petrenko", "kovalenko", "shevchuk", "melnyk", "bondarenko",
            "tkachenko", "rudenko", "lysenko"]
    emails = [f"{f}.{l}@example.com" for f in first for l in last][:40]
    phones = [f"+380{rng.choice(['50','67','63','93'])}{rng.randrange(10**6, 10**7)}"
              for _ in range(30)]
    ibans = [f"UA{rng.randrange(10**26, 10**27)}" for _ in range(20)]
    cards = ["4111111111111111"] + [
        f"4{rng.randrange(10**14, 10**15)}" for _ in range(15)
    ]
    ips = [f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1,255)}"
           for _ in range(20)]
    urls = [f"https://example{i}.ua/page{rng.randrange(100)}" for i in range(20)]
    cryptos = ["1A1zP1eP5QGefi2DMPTfTL5SLmv7DivfNa",
               "1BvBMSEYstWetqTFn5Au4m4GFg7xJaNVN2",
               "3J98t1WpEZ73CNmQviecrnyiWrnqRhWNLy"]
    return {
        "EMAIL": emails, "PHONE": phones, "IBAN": ibans, "CARD": cards,
        "IP": ips, "URL": urls, "CRYPTO": cryptos,
    }


def _fill(template: str, rng: random.Random, pools: dict[str, list[str]],
          celebrity: bool) -> str:
    def pick(t: str) -> str:
        return rng.choice(_BY_TYPE[t])

    text = template
    if "{PERS2}" in text:
        text = text.replace("{PERS2}", pick("PERS"))
    if "{PERS}" in text:
        p = CELEBRITY if celebrity and rng.random() < 0.5 else pick("PERS")
        text = text.replace("{PERS}", p)
    for key in ("ORG", "LOC", "DATE", "TIME", "JOB", "MON", "PCT", "PERIOD",
                "DOC", "QUANT", "ART"):
        ph = "{%s}" % key
        while ph in text:
            text = text.replace(ph, pick(key), 1)
    for key, pool in pools.items():
        ph = "{%s}" % key
        while ph in text:
            text = text.replace(ph, rng.choice(pool), 1)
    return text


def synth_transcripts(n_convs: int, seed: int = SEED) -> pd.DataFrame:
    rng = random.Random(seed)
    pools = _synth_pools(rng)
    base_ts = datetime(2025, 1, 1)
    rows = []
    for ci in range(n_convs):
        conv_id = f"conv_{ci:06d}"
        celebrity = rng.random() < 0.20
        n_turns = HOT_TURNS if ci == 0 else rng.randint(5, 40)
        tool_turn_every = rng.choice((0, 0, 5, 7))  # 0 => no tool turns
        for ti in range(n_turns):
            ts = base_ts + timedelta(hours=ci, seconds=30 * ti)
            if tool_turn_every and ti % tool_turn_every == tool_turn_every - 1:
                tool = rng.choice(TOOLS)
                rows.append((conv_id, ti, "tool",
                             f"Результат інструменту {tool}: OK ({ti})",
                             tool, ts))
                continue
            role = ROLES[ti % 2]
            r = rng.random()
            if r < 0.008:
                text = ""                      # O-5 reject: empty
            elif r < 0.016:
                text = "   \n\t  "             # O-5 reject: whitespace
            elif r < 0.018 and ci % 200 == 3:
                text = "А" * 100_001           # O-5 reject: overlong
            elif r < 0.08:
                text = rng.choice(ANCHOR_SENTENCES)
            else:
                n_sent = rng.randint(1, 3)
                text = " ".join(
                    _fill(rng.choice(TEMPLATES), rng, pools, celebrity)
                    for _ in range(n_sent)
                )
            rows.append((conv_id, ti, role, text, None, ts))
        # Additive IPN turn (r2: the north-star IPN class): appended AFTER
        # the conv's turns with a conv-local RNG so the shared stream —
        # and therefore every previously-generated text — is unchanged.
        if ci % 37 == 5:
            iprng = random.Random(seed * 1_000_003 + ci)
            digits = [iprng.randint(0, 9) for _ in range(9)]
            ctrl = (sum(d * w for d, w in zip(
                digits, (-1, 5, 7, 9, 4, 6, 10, 5, 7))) % 11) % 10
            ipn = "".join(map(str, digits)) + str(ctrl)
            lead = iprng.choice(
                ("Мій ІПН", "РНОКПП платника", "Податковий номер")
            )
            rows.append(
                (conv_id, n_turns, "user", f"{lead} {ipn}.", None,
                 base_ts + timedelta(hours=ci, seconds=30 * n_turns))
            )
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # microsecond precision: Spark's streaming parquet reader rejects the
    # INT64-nanos encoding pandas defaults to
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def synth_aliases(seed: int = SEED) -> pd.DataFrame:
    """Alias dictionary for entity linking (FIXTURES.md §4): initials,
    reversed-order and typo variants of gazetteer PERS/ORG surfaces, keyed on
    normalized alias -> normalized canonical surface."""
    rng = random.Random(seed + 1)
    rows = []
    seen = set()

    def add(alias: str, canonical: str, etype: str) -> None:
        an, cn = norm_surface(alias), norm_surface(canonical)
        if not an or an == cn:
            return
        key = (an, etype)
        if key in seen:
            return
        seen.add(key)
        rows.append((an, cn, etype))

    for surface, (etype, _) in sorted(GAZETTEER.items()):
        if etype == "PERS":
            parts = surface.split()
            if len(parts) == 2:
                add(f"{parts[0][0]}. {parts[1]}", surface, etype)   # initials
                add(f"{parts[1]} {parts[0]}", surface, etype)       # reversed
                if len(parts[1]) > 5 and rng.random() < 0.7:        # typo
                    drop = rng.randrange(1, len(parts[1]) - 1)
                    add(f"{parts[0]} {parts[1][:drop] + parts[1][drop + 1:]}",
                        surface, etype)
        elif etype == "ORG":
            add(surface.replace("'", "«").replace("'", "»"), surface, etype)
            bare = surface.replace("ТОВ ", "").replace("АТ ", "")
            if bare != surface:
                add(bare, surface, etype)
    return pd.DataFrame(
        rows, columns=["alias_norm", "canonical_norm", "entity_type"]
    )


# --- materialization cache ---------------------------------------------------

DATA_ROOT = Path(__file__).resolve().parent.parent.parent / "data" / "synth"

# sf1 exists for the scaling bench only (scripts/sf1_bench.py);
# the driver's correctness/bench sfs stay 0.001/0.01/0.1
SF_CONVS = {"sf0.001": 60, "sf0.01": 400, "sf0.1": 4000, "sf1": 40000}
SF_BUCKETS = {"sf0.001": 4, "sf0.01": 8, "sf0.1": 32, "sf1": 64}


def sf_key_for_dir(sf_dir: str) -> str:
    """The scale name of `sf_dir` (its last path component).  An unknown
    name raises instead of mapping to some default scale, which would run
    and label the wrong amount of data."""
    name = Path(sf_dir).name
    if name not in SF_CONVS:
        raise ValueError(
            f"unknown scale {name!r} (from {sf_dir!r}); "
            f"expected one of {sorted(SF_CONVS)}")
    return name


def conv_bucket(conv_id: str, n: int) -> int:
    import zlib

    return zlib.crc32(conv_id.encode()) % n


def ensure_transcripts(sf_dir: str) -> Path:
    """Materialize (once) the deterministic transcripts as a DIRECTORY of
    parquet part files bucketed by crc32(conv_id) — the dev stand-in for the
    Iceberg `bucket(conv_id)` table layout (SURVEY.md §2.1 O-S4), so the scan
    parallelizes without a repartition shuffle.  Returns the directory path.
    """
    key = sf_key_for_dir(sf_dir)
    out = DATA_ROOT / key / "transcripts.parquet"
    if not (out / "_OK_v3").exists():
        out.mkdir(parents=True, exist_ok=True)
        for old in out.glob("part-*.parquet"):
            old.unlink()
        df = synth_transcripts(SF_CONVS[key])
        n = SF_BUCKETS[key]
        buckets = df["conv_id"].map(lambda c: conv_bucket(c, n))
        for b in range(n):
            part = df[buckets == b]
            part.to_parquet(out / f"part-{b:05d}.parquet", index=False)
        (out / "_OK_v3").write_text("ok")
    return out


SF_MEDIA = {"sf0.001": 120, "sf0.01": 600, "sf0.1": 3000, "sf1": 3000}


def synth_media(n_media: int, seed: int = SEED) -> pd.DataFrame:
    """Deterministic multimodal metadata table: opaque binary payloads with
    typed metadata (FIXTURES-extra; consumed by operators/multimodal.py)."""
    from ..semantics.media import make_payload

    rng = random.Random(seed + 2)
    types = ("image", "audio", "video")
    rows = []
    for mid in range(n_media):
        mtype = types[mid % 3]
        width = rng.choice((320, 640, 1024, 2048)) if mtype == "image" else 0
        height = rng.choice((240, 480, 768, 1536)) if mtype == "image" else 0
        duration = rng.randrange(1000, 30000) if mtype in ("audio", "video") else 0
        sample_rate = 16000 if mtype == "audio" else 0
        rows.append(
            (mid, mid % 500, mtype, make_payload(mid, mtype),
             width, height, duration, sample_rate)
        )
    df = pd.DataFrame(
        rows,
        columns=["media_id", "doc_id", "media_type", "payload", "width",
                 "height", "duration_ms", "sample_rate"],
    )
    for c in ("width", "height", "duration_ms", "sample_rate"):
        df[c] = df[c].astype("int32")
    return df


def ensure_media(sf_dir: str) -> Path:
    key = sf_key_for_dir(sf_dir)
    out = DATA_ROOT / key / "media.parquet"
    if not out.exists():
        out.parent.mkdir(parents=True, exist_ok=True)
        tmp = out.with_suffix(".tmp.parquet")
        synth_media(SF_MEDIA[key]).to_parquet(tmp, index=False)
        tmp.rename(out)
    return out


def ensure_aliases() -> Path:
    out = DATA_ROOT / "aliases.parquet"
    if not out.exists():
        out.parent.mkdir(parents=True, exist_ok=True)
        tmp = out.with_suffix(".tmp.parquet")
        synth_aliases().to_parquet(tmp, index=False)
        tmp.rename(out)
    return out


# --- deterministic file-ingest fixtures (O-1/O-2/O-3 driver coverage) --------

SF_DOC_FILES = {"sf0.001": 24, "sf0.01": 80, "sf0.1": 240}
_CP1251_SAFE = ("Іван Петренко працює в Києві. Рахунок UA"
                + "1" * 27 + " відкрито.")


def _docx_bytes(paragraphs: list[str]) -> bytes:
    """Minimal valid .docx (zip of word/document.xml) via stdlib only —
    fixed zip timestamps keep the artifact byte-deterministic."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    body = "".join(
        f"<w:p><w:r><w:t>{escape(p)}</w:t></w:r></w:p>" for p in paragraphs
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{ns}"><w:body>{body}</w:body></w:document>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml",
             '<?xml version="1.0"?><Types xmlns="http://schemas.'
             'openxmlformats.org/package/2006/content-types"/>'),
            ("word/document.xml", doc),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
    return buf.getvalue()


def ensure_doc_files(sf_dir: str) -> Path:
    """Directory of fixture documents for the file-ingest sources: a
    round-robin of UTF-8 .txt, cp1251 .txt (exercising the encoding
    cascade), and stdlib-built .docx, with text drawn from the same
    template pools as the transcripts."""
    from ..oracle.docs_golden import FILES_GOLDEN_VERSION

    key = sf_key_for_dir(sf_dir)
    out = DATA_ROOT / key / "doc_files"
    # versioned like every other fixture marker: bump FILES_GOLDEN_VERSION
    # when the generator changes so warm caches regenerate (CLAUDE.md)
    marker = out / f"_FILES_OK_v{FILES_GOLDEN_VERSION}"
    if marker.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(SEED + 7)
    pools = _synth_pools(rng)
    for i in range(SF_DOC_FILES[key]):
        paras = []
        for _ in range(rng.randint(1, 4)):
            paras.append(" ".join(
                _fill(rng.choice(TEMPLATES), rng, pools,
                      rng.random() < 0.2)
                for _ in range(rng.randint(1, 2))
            ))
        kind = ("txt", "cp1251", "docx")[i % 3]
        if kind == "docx":
            (out / f"doc_{i:04d}.docx").write_bytes(_docx_bytes(paras))
            continue
        text = "\n\n".join(paras)
        if kind == "cp1251":
            try:
                raw = text.encode("cp1251")
            except UnicodeEncodeError:
                raw = _CP1251_SAFE.encode("cp1251")
        else:
            raw = text.encode("utf-8")
        (out / f"doc_{i:04d}.txt").write_bytes(raw)
    marker.write_text("ok")
    return out
