"""Seeded bank-statement corpus with its ground truth.

Writes statement files in the four layouts the engine ingests
(``sources.ingest.DEFAULT_BANK_SPECS``):

* E.Sun: utf-8 CSV with preamble rows and card master rows
  (``卡號：XXXX-XXXX-XXXX-1234（Unicard－正卡）``) whose card the detail
  rows below inherit; fused foreign rows (``AMAZON.CO.JP  JPN ... MM/DD``);
  ROC (``113年1月``) or western (``202401``) file names.
* Cathay (Cube): utf-8 CSV, dual card numbers (``5678/9012``),
  ``消費地/幣別`` location/currency cells, some ``YYYY/MM/DD`` dates.
* CTBC: cp950 CSV with foreign currency rows.
* Hua Nan: big5 HTML behind a decoy table, master rows
  ``旅鉅卡************3333``.

Merchants and card numbers are drawn so a fixed share of rows hits the
pinned ``queries.refine_queries.REFINE_CONFIG`` rules (LINEPAY*, 悠遊付,
UBER EATS, STARBUCKS, 繳款/折抵/年費), plus refunds, zero-value
verification rows and foreign rows.

The ground truth is what the warehouse must hold after a load: landed
rows and payment cents per (bank, transaction month).  A row lands
unless it is a card master row; every generated data row has a valid
transaction date and an integral TWD amount.
"""

from __future__ import annotations

import csv
import io
import os
import random
from collections import Counter
from dataclasses import dataclass, field

BANKS = ("esun_bank", "cube_bank", "ctbc_bank", "hncb_bank")

_DOMESTIC = [
    "全聯福利中心", "麥當勞", "家樂福", "誠品書店", "全家便利商店",
    "統一超商", "中油加油站", "屈臣氏", "台灣大車隊",
]
#: (merchant, weight) rows that hit REFINE_CONFIG's card-independent rules
_RULE_HITS = [
    ("LINEPAY*COFFEE SHOP", 4),
    ("LINEPAY*TAXI", 2),
    ("悠遊付加值", 3),
    ("UBER EATS TAIPEI", 4),
    ("UBEREATS", 1),
    ("STARBUCKS #123", 3),
    ("星巴克咖啡", 2),
]
_CARDS = ["1234", "1111", "4321", "8888"]
_ESUN_TYPES = ["Unicard", "熊本熊卡", "Pi拍錢包信用卡"]
_HNCB_TYPES = ["旅鉅卡", "i網購生活卡"]
_ENCODING = {"esun_bank": "utf-8", "cube_bank": "utf-8",
             "ctbc_bank": "cp950", "hncb_bank": "big5"}
_NAME = {"esun_bank": "玉山", "cube_bank": "國泰世華",
         "ctbc_bank": "中信", "hncb_bank": "華南"}


@dataclass
class Truth:
    """Expected warehouse content of a set of statement files."""

    rows: Counter = field(default_factory=Counter)   # (bank, "YYYY-MM")
    cents: Counter = field(default_factory=Counter)  # (bank, "YYYY-MM")
    files: int = 0
    bytes: int = 0
    data_lines: int = 0

    def add(self, other: "Truth") -> None:
        self.rows.update(other.rows)
        self.cents.update(other.cents)
        self.files += other.files
        self.bytes += other.bytes
        self.data_lines += other.data_lines

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())

    def per_bank(self, month: str | None = None) -> dict[str, tuple[int, int]]:
        """bank -> (rows, cents), optionally for one transaction month."""
        out: dict[str, tuple[int, int]] = {}
        for (bank, ym), n in self.rows.items():
            if month is None or ym == month:
                r, c = out.get(bank, (0, 0))
                out[bank] = (r + n, c + self.cents[(bank, ym)])
        return {b: v for b, v in out.items() if v[0]}


def _prev_month(year: int, month: int) -> tuple[int, int]:
    return (year - 1, 12) if month == 1 else (year, month - 1)


def _row(rng: random.Random, bank: str) -> tuple[str, int, dict]:
    """One detail row: (merchant, TWD amount, bank-specific extras)."""
    k = rng.random()
    extra: dict = {}
    if k < 0.42:
        return rng.choice(_DOMESTIC), rng.randint(30, 4999), extra
    if k < 0.62:
        names, weights = zip(*_RULE_HITS)
        return rng.choices(names, weights)[0], rng.randint(60, 1999), extra
    if k < 0.67:
        return "退款 " + rng.choice(_DOMESTIC), -rng.randint(30, 2999), extra
    if k < 0.71:
        extra["payment"] = True
        return "信用卡款繳款 轉帳", -rng.randint(1000, 30000), extra
    if k < 0.74:
        return "刷卡金回饋折抵", -rng.randint(10, 300), extra
    if k < 0.76:
        return "年費", rng.choice([300, 1200, 1800]), extra
    if k < 0.80:
        return "VERIFY SHOP", 0, extra
    extra["foreign"] = rng.choice([("JPN", "JPY", "CHIYODA-KU"),
                                   ("USA", "USD", "SEATTLE")])
    return rng.choice(["AMAZON.CO.JP", "TOKYO RAMEN", "AMAZON US"]), \
        rng.randint(100, 9999), extra


def _fmt_amount(v: int, commas: bool) -> str:
    return f"{v:,}" if commas else str(v)


def write_statement(
    out_dir: str,
    rng: random.Random,
    bank: str,
    year: int,
    month: int,
    tag: str,
    n_rows: int,
    *,
    in_month_only: bool = False,
) -> Truth:
    """Write one statement file of ``n_rows`` data rows (card master rows
    included) for billing month ``year``/``month``; return its truth.

    ``in_month_only`` keeps every transaction date inside the billing
    month (a monthly restatement then replaces exactly one warehouse
    partition); otherwise a fifth of the rows fall in the previous month,
    across the year boundary for January statements."""
    truth = Truth(files=1)
    prev = _prev_month(year, month)
    body: list[list[str]] = []
    card = rng.choice(_CARDS)
    master_every = 40
    for i in range(n_rows):
        if bank in ("esun_bank", "hncb_bank") and i % master_every == 0:
            card = rng.choice(_CARDS)
            if bank == "esun_bank":
                text = (f"卡號：XXXX-XXXX-XXXX-{card}"
                        f"（{rng.choice(_ESUN_TYPES)}－正卡）")
                body.append([f"{month:02d}/01", f"{month:02d}/02", "", text, "", ""])
            else:
                text = f"{rng.choice(_HNCB_TYPES)}************{card}"
                body.append([f"{month:02d}/01", f"{month:02d}/02", "", text, ""])
            continue
        y, m = prev if (not in_month_only and rng.random() < 0.2) else (year, month)
        day = rng.randint(1, 28)
        date = f"{m:02d}/{day:02d}"
        post = f"{m:02d}/{min(day + 1, 28):02d}"
        merchant, amount, extra = _row(rng, bank)
        truth.rows[(bank, f"{y}-{m:02d}")] += 1
        truth.cents[(bank, f"{y}-{m:02d}")] += amount * 100
        foreign = extra.get("foreign")
        if bank == "esun_bank":
            fx = ""
            if foreign:
                merchant = f"{merchant}  {foreign[0]} {foreign[2]} {date}"
                fx = f"{amount / 30:,.2f}"
            body.append([date, post, "", merchant, fx, _fmt_amount(amount, True)])
        elif bank == "cube_bank":
            cube_card = rng.choice(["5678/9012", "5678/9012", *_CARDS])
            if rng.random() < 0.3:
                date = f"{y}/{m:02d}/{day:02d}"
            place = (f"{foreign[0]} {foreign[2]} / {foreign[1]}" if foreign
                     else rng.choice(["TW / TWD", ""]))
            body.append([date, post, cube_card, merchant,
                         _fmt_amount(amount, False), place, "****"])
        elif bank == "ctbc_bank":
            fx, cur = ((f"{amount / 30:.2f}", foreign[1]) if foreign
                       else ("", ""))
            body.append([date, post, rng.choice(_CARDS), merchant,
                         _fmt_amount(amount, False), fx, cur])
        else:
            body.append([date, post, "", merchant, _fmt_amount(amount, False)])
    truth.data_lines = len(body)
    text = _render(bank, body, month)
    roc = bank == "esun_bank" and rng.random() < 0.5
    stem = (f"玉山銀行{year - 1911}年{month}月_{tag}" if roc
            else f"{_NAME[bank]}_{year}{month:02d}_{tag}")
    ext = "html" if bank == "hncb_bank" else "csv"
    data = text.encode(_ENCODING[bank])  # strict: the truth must be exact
    with open(os.path.join(out_dir, f"{stem}.{ext}"), "wb") as fh:
        fh.write(data)
    truth.bytes = len(data)
    return truth


_HEADERS = {
    "esun_bank": ["交易日期", "入帳日期", "卡號末四碼", "交易說明", "外幣金額", "臺幣金額"],
    "cube_bank": ["交易日", "入帳日", "卡號末四碼", "交易說明", "臺幣金額",
                  "消費地/幣別", "信用卡號"],
    "ctbc_bank": ["消費日期", "入帳日期", "卡號末四碼", "商店名稱", "臺幣金額",
                  "外幣金額", "幣別"],
    "hncb_bank": ["交易日期", "入帳日期", "卡號末四碼", "摘要", "金額"],
}
_PREAMBLE = {
    "esun_bank": [["帳單資訊"], ["歡迎使用網路帳單"]],
    "cube_bank": [["國泰世華帳單"]],
    "ctbc_bank": [["歡迎使用中國信託帳單"]],
}


def _render(bank: str, body: list[list[str]], month: int) -> str:
    header = _HEADERS[bank]
    if bank == "hncb_bank":
        def tr(cells: list[str], tag: str) -> str:
            return "<tr>" + "".join(f"<{tag}>{c}</{tag}>" for c in cells) + "</tr>\n"

        return (
            "<html><body>\n<table><tr><td>華南銀行信用卡帳單</td></tr>"
            f"<tr><td>{month}月</td></tr></table>\n<table>\n"
            + tr([f"\n  {h}\n" for h in header], "th")
            + "".join(tr(r, "td") for r in body)
            + "</table>\n</body></html>\n"
        )
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    for pre in _PREAMBLE[bank]:
        w.writerow(pre + [""] * (len(header) - 1))
    w.writerow(header)
    w.writerows(body)
    return buf.getvalue()


def write_corpus(
    out_dir: str,
    seed: int,
    months: list[tuple[int, int]],
    files_per_month: int,
    rows_per_file: int,
    *,
    in_month_only: bool = False,
) -> Truth:
    """``files_per_month`` statements per billing month, banks in
    rotation, one user tag per file; every file has ``rows_per_file``
    data rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    truth = Truth()
    for year, month in months:
        for i in range(files_per_month):
            truth.add(write_statement(
                out_dir, rng, BANKS[i % len(BANKS)], year, month, f"u{i:04d}",
                rows_per_file, in_month_only=in_month_only,
            ))
    return truth
