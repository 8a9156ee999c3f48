"""Scalar text kernels — executable spec of the reference's per-page chain.

Every function here matches the reference byte-for-byte on any input
(golden vectors: ``/root/reference/test_app.py:78-110,380-392``).
"""

from __future__ import annotations

import re
import unicodedata
from typing import Optional

# --- M2: control-character sanitization (/root/reference/app.py:198-202) ---

_CONTROL_CHARS = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")


def sanitize_text(text: Optional[str]) -> str:
    """Strip C0 control characters, keeping ``\\t`` ``\\n`` ``\\r``.

    Falsy input (None or empty) maps to ``""``.
    Spec: ``/root/reference/app.py:198-202``.
    """
    if not text:
        return ""
    return _CONTROL_CHARS.sub("", text)


# --- M5: OCR error fixing (/root/reference/app.py:347-370) -----------------

#: Ordered replacement chain. Order is semantic: 'l1'->'h' must fire
#: before '1'->'I' (golden: "Hel1o" -> "Heho",
#: /root/reference/test_app.py:103). Applied as sequential full-string
#: passes, each left-to-right and non-overlapping (str.replace
#: semantics), so later rules see the output of earlier rules.
OCR_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    ("l1", "h"),
    ("rn", "m"),
    ("cl", "d"),
    ("vv", "w"),
    (" ,", ","),
    (" .", "."),
    (" ;", ";"),
    (" :", ":"),
    (" !", "!"),
    (" ?", "?"),
    ("0", "O"),
    ("1", "I"),
    ("5", "S"),
)

_LONE_NEWLINE = re.compile(r"(?<!\n)\n(?!\n)")
_NEWLINE_RUNS = re.compile(r"\n{3,}")


def fix_common_ocr_errors(text: Optional[str]) -> Optional[str]:
    """Apply the ordered OCR-error replacement chain, then newline folding.

    Lone newlines become spaces; runs of >=3 newlines collapse to exactly
    two. Falsy input passes through unchanged (None stays None, "" stays
    "" — /root/reference/app.py:349-350).
    Spec: ``/root/reference/app.py:347-370``.
    """
    if not text:
        return text
    for wrong, right in OCR_REPLACEMENTS:
        text = text.replace(wrong, right)
    text = _LONE_NEWLINE.sub(" ", text)
    text = _NEWLINE_RUNS.sub("\n\n", text)
    return text


# --- M1: filename securing (/root/reference/app.py:69-74) ------------------

_ASCII_STRIP = re.compile(r"[^A-Za-z0-9_.-]")
_NON_WORD = re.compile(r"[^\w\s.-]")


def _ascii_secure_filename(filename: str) -> str:
    """POSIX behavior of werkzeug's ``secure_filename`` (the reference's
    first step), reimplemented without the dependency: NFKD-fold to
    ASCII, path separators to spaces, whitespace runs to ``_``, strip
    non-``[A-Za-z0-9_.-]``, trim leading/trailing ``.``/``_``.

    (The Windows-device-name branch of werkzeug is irrelevant — the
    reference deploys on Linux, Dockerfile:1-24.)
    """
    filename = unicodedata.normalize("NFKD", filename)
    filename = filename.encode("ascii", "ignore").decode("ascii")
    for sep in ("/", "\\"):
        filename = filename.replace(sep, " ")
    filename = _ASCII_STRIP.sub("", "_".join(filename.split()))
    return filename.strip("._")


def secure_clean_filename(filename: str) -> str:
    """M1: secure_filename then strip remaining non-word chars and map
    spaces to underscores. Golden: ``"../../etc/passwd.pdf"`` ->
    ``"etc_passwd.pdf"``; ``"üñîçødé.pdf"`` -> ``"unicde.pdf"``
    (/root/reference/test_app.py:380-384).
    Spec: ``/root/reference/app.py:69-74``.
    """
    filename = _ascii_secure_filename(filename)
    filename = _NON_WORD.sub("", filename)
    return filename.replace(" ", "_")


# --- S2: extension gate (/root/reference/app.py:63-67) ---------------------

ALLOWED_EXTENSIONS = frozenset({"pdf"})


def allowed_file(filename: Optional[str]) -> bool:
    """True iff the filename has an allowed extension (case-insensitive).
    Spec: ``/root/reference/app.py:63-67``."""
    if not filename:
        return False
    return "." in filename and filename.rsplit(".", 1)[1].lower() in ALLOWED_EXTENSIONS


# --- M6: language-code mapping (/root/reference/app.py:272-284) ------------

#: ISO-639-3 (tesseract-style) -> 2-letter codes, as used for the easyocr
#: engine dispatch. Unknown codes pass through.
LANGUAGE_CODE_MAP: dict[str, str] = {
    "eng": "en",
    "fra": "fr",
    "deu": "de",
    "spa": "es",
    "ita": "it",
    "por": "pt",
    "chi_sim": "ch_sim",
    "chi_tra": "ch_tra",
    "jpn": "ja",
    "kor": "ko",
    "rus": "ru",
    "ara": "ar",
    "hin": "hi",
}


def map_language_codes(language: str) -> list[str]:
    """Split a ``+``-joined tesseract language spec and map each code.
    Spec: ``/root/reference/app.py:272-284``."""
    return [LANGUAGE_CODE_MAP.get(code, code) for code in language.split("+")]


# --- M8: DPI selection (/root/reference/app.py:432-435) --------------------


def select_dpi(quality: str) -> int:
    """300 DPI standard, 600 for 'high'; every other value (and the UI's
    ``dpi`` field) is ignored. Spec: ``/root/reference/app.py:432-435``."""
    return 600 if quality == "high" else 300


# --- M9: HTML entity escaping (/root/reference/app.py:404) -----------------


def html_escape(text: str) -> str:
    """Escape ``&`` then ``<`` then ``>`` — exactly those three, in that
    order. Spec: ``/root/reference/app.py:404``."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
