"""Differential tests: WrappedBlock's bulk paths, its word buffer and its
hard-wrap splitter must be byte-identical to the reference per-char
algorithm (the `add_text` loop that mirrors text_renderer.rs:708-814, and
the char-by-char splitter of text_renderer.rs:589-644) over randomized
inputs.  The oracle side runs on `FrozenBlock`, which keeps verbatim copies
of the per-char splitter and of the word buffer built by `TaggedLine`
merging, so the linear-cost word buffer and splitter are checked too."""

from __future__ import annotations

import random

from rust_html2text_spark.engine.errors import TooNarrow
from rust_html2text_spark.engine.taggedline import (
    FragmentStart,
    TaggedLine,
    TaggedString,
)
from rust_html2text_spark.engine.textutil import (
    always_takes_space,
    char_width,
    is_unicode_whitespace,
    is_wordbreak_point,
)
from rust_html2text_spark.engine.wrapped import (
    WS_NORMAL,
    WS_PRE,
    WS_PRE_WRAP,
    WrappedBlock,
)


class CopyingWord(TaggedLine):
    """The word buffer as a plain TaggedLine: every same-tag push merges
    into the previous span right away (`prev.s += s`)."""

    __slots__ = ()

    def seal(self) -> None:
        pass

    def has_items(self) -> bool:
        return bool(self.v)


def reference_flush_word_hard_wrap(block: WrappedBlock) -> None:
    """The char-by-char splitter (kept verbatim here as the oracle)."""
    lineleft = block.width - block.line.len
    for element in block.word.remove_items():
        if isinstance(element, TaggedString):
            piece_s = element.s
            piece_tag = element.tag
            w = element.width()
            wpos = 0
            bpos = 0  # char index of already-copied pieces
            while w - wpos > lineleft:
                split_idx = 0
                for idx, c in enumerate(piece_s[bpos:]):
                    c_w = char_width(c)
                    if c_w <= lineleft:
                        lineleft -= c_w
                        wpos += c_w
                    else:
                        if idx == 0 and block.line.width() == 0:
                            if block.allow_overflow:
                                split_idx = 1
                                wpos += c_w
                                break
                            raise TooNarrow()
                        split_idx = idx
                        break
                block.line.push(
                    TaggedString(piece_s[bpos : bpos + split_idx], piece_tag)
                )
                bpos += split_idx
                block.force_flush_line()
                lineleft = block.width
            if bpos == 0:
                block.line.push(element)
                lineleft -= w
            elif bpos < len(piece_s):
                block.line.push(TaggedString(piece_s[bpos:], piece_tag))
                lineleft -= max(w - wpos, 0)


class FrozenBlock(WrappedBlock):
    """WrappedBlock with the copying word buffer and the per-char splitter."""

    def __init__(self, *args):
        super().__init__(*args)
        self.word = CopyingWord()

    flush_word_hard_wrap = reference_flush_word_hard_wrap


def reference_add_text(
    block: WrappedBlock, text: str, ws_mode: int, main_tag, wrap_tag
) -> None:
    """The per-char add_text loop (kept verbatim here as the oracle for
    every mode: the Normal and same-tag Pre bulk paths, and the per-char
    rich-decorator path, where main_tag != wrap_tag)."""
    tag = wrap_tag if block.pre_wrapped else main_tag
    for c in text:
        if is_wordbreak_point(c) and block.wordlen > 0 and ws_mode != WS_PRE:
            block.flush_word()

        if c == "\u200b":
            continue
        if not always_takes_space(c):
            if ws_mode != WS_NORMAL:
                if c == "\n":
                    block.flush_word()
                    block.force_flush_line()
                    block.wslen = 0
                    block.spacetag = None
                    block.pre_wrapped = False
                    tag = main_tag
                elif c == "\t":
                    block.flush_word()
                    if block.width == 0:
                        continue
                    tab_stop = 8
                    pos = block.line.len + block.wordlen + block.wslen
                    at_least_one_space = False
                    while pos % tab_stop != 0 or not at_least_one_space:
                        if pos >= block.width:
                            block.flush_line()
                            pos = 0
                        else:
                            block.line.push_char(" ", (tag, ws_mode))
                            pos += 1
                            at_least_one_space = True
                else:
                    cwidth = char_width(c)
                    if cwidth >= 0:
                        if block.word.is_empty() and is_unicode_whitespace(c):
                            block.wslen += cwidth
                            block.spacetag = (tag, ws_mode)
                        else:
                            block.word.push_char(c, (tag, ws_mode))
                            block.wordlen += cwidth
            else:
                if block.line.len > 0 and block.wslen == 0:
                    block.spacetag = (tag, ws_mode)
                    block.wslen = 1
        else:
            cwidth = char_width(c)
            if cwidth >= 0:
                block.wordlen += cwidth
                if ws_mode == WS_PRE and (
                    block.line.len + block.wslen + block.wordlen > block.width
                ):
                    block.pre_wrapped = True
                    tag = wrap_tag
                block.word.push_char(c, (tag, ws_mode))


def reference_add_text_normal(block: WrappedBlock, text: str, tag) -> None:
    """Normal-mode oracle (test_hypothesis_properties imports it too)."""
    reference_add_text(block, text, WS_NORMAL, tag, tag)


def render_with(add_fn, pieces, width, pre_pieces=(), frozen=False):
    block = (FrozenBlock if frozen else WrappedBlock)(width, False, False, ("t",))
    for ws_mode, text, tag in pre_pieces:
        block.add_text(text, ws_mode, (tag,), (tag, "cont"))
    for text, tag in pieces:
        add_fn(block, text, (tag,))
    lines = block.into_lines()
    return [
        [(e.s, e.tag) for e in line.v if isinstance(e, TaggedString)]
        for line in lines
    ]


WORDS = [
    "a", "ab", "lorem", "ipsum", "consectetur", "x" * 15, "y" * 45,
    "punct,", "end.", "(paren)", "no\u200bbreak", "nb\xa0sp", "日本語",
    "mixé", "em—dash", "", "z" * 80,
]
SEPS = [" ", "  ", "\n", "\t", " \n ", " ", ""]


def test_differential_random():
    rng = random.Random(42)
    for trial in range(400):
        width = rng.choice([5, 8, 12, 20, 40, 80])
        n = rng.randint(1, 12)
        pieces = []
        for _ in range(n):
            text = "".join(
                rng.choice(WORDS) + rng.choice(SEPS) for _ in range(rng.randint(1, 6))
            )
            tag = rng.choice(["t", "u"])
            pieces.append((text, tag))
        fast = render_with(
            lambda b, t, tg: b.add_text(t, WS_NORMAL, tg, tg), pieces, width
        )
        slow = render_with(reference_add_text_normal, pieces, width, frozen=True)
        assert fast == slow, (width, pieces)


def test_differential_after_pre():
    """Normal-mode text arriving after preformatted text (stale pending
    whitespace / pre_wrapped state) must behave identically."""
    rng = random.Random(7)
    for trial in range(200):
        width = rng.choice([6, 12, 30])
        pre_text = rng.choice(
            ["keep   spaces ", "tail ", "x" * 20 + "   ", "a\nb  ", "   "]
        )
        pieces = [
            (
                "".join(
                    rng.choice(WORDS) + rng.choice(SEPS)
                    for _ in range(rng.randint(1, 4))
                ),
                "t",
            )
        ]
        pre = [(WS_PRE, pre_text, "p")]
        fast = render_with(
            lambda b, t, tg: b.add_text(t, WS_NORMAL, tg, tg),
            pieces,
            width,
            pre_pieces=pre,
        )
        slow = render_with(
            reference_add_text_normal, pieces, width, pre_pieces=pre, frozen=True
        )
        assert fast == slow, (width, pre_text, pieces)


# Pre-mode text tokens: printable ASCII runs, spaces, tabs, newlines (rare,
# so lines run past the width many times), NBSP, wide CJK, combining marks,
# ZWSP and a control char.
PRE_TOKENS = (
    ["a", "xy", "lorem", "q" * 12, ".,;", "(x)", "0", "Z"] * 3
    + [" ", "  ", "    ", " x "] * 2
    + ["\t", "a\tb", "\n", "\xa0", "\xa0\xa0", "日本", "好", "💡",
       "e\u0301", "\u0301", "é", "\u200b", "\r", "mixé", "em—dash"]
)


def random_pre_text(rng: random.Random, max_len: int = 300) -> str:
    target = rng.randint(0, max_len)
    out: list[str] = []
    n = 0
    while n < target:
        tok = rng.choice(PRE_TOKENS)
        out.append(tok)
        n += len(tok)
    return "".join(out)


def outcome(fn):
    """Lines, or TooNarrow: both sides must agree on either."""
    try:
        return ("ok", fn())
    except TooNarrow:
        return ("too_narrow",)


def test_differential_pre_sametag():
    rng = random.Random(17)
    wrapped_lines = 0
    newlines = 0
    for trial in range(400):
        width = rng.randint(1, 40)
        pieces = [
            (random_pre_text(rng), rng.choice("tu"))
            for _ in range(rng.randint(1, 4))
        ]
        newlines += sum(text.count("\n") for text, _ in pieces)

        def run(add_fn, frozen):
            # the block state after each piece must agree too: pre_wrapped
            # picks the tag of the next call's text
            states = []

            def add(b, t, tg):
                add_fn(b, t, tg)
                states.append((b.pre_wrapped, b.wslen, b.wordlen, b.line.len))

            return render_with(add, pieces, width, frozen=frozen), states

        fast = outcome(
            lambda: run(lambda b, t, tg: b.add_text(t, WS_PRE, tg, tg), False)
        )
        slow = outcome(
            lambda: run(lambda b, t, tg: reference_add_text(b, t, WS_PRE, tg, tg), True)
        )
        assert fast == slow, (width, pieces)
        if fast[0] == "ok":
            wrapped_lines += len(fast[1][0])
    # the inputs really exercise wrapping: far more lines than newlines
    assert wrapped_lines > 5 * newlines


def render_elements(block, steps):
    """Run (kind, payload) steps on a block; return every line element,
    fragment markers included, plus the leftover trailing fragments."""
    for kind, payload in steps:
        if kind == "frag":
            block.add_element(FragmentStart(payload))
        else:
            ws_mode, text, main_tag, wrap_tag = payload
            if isinstance(block, FrozenBlock):
                reference_add_text(block, text, ws_mode, main_tag, wrap_tag)
            else:
                block.add_text(text, ws_mode, main_tag, wrap_tag)
    trailing = [f.name for f in block.take_trailing_fragments()]
    lines = [
        [
            (e.s, e.tag) if isinstance(e, TaggedString) else ("frag", e.name)
            for e in line.v
        ]
        for line in block.into_lines()
    ]
    return lines, trailing


def test_differential_distinct_wrap_tag():
    """The per-char path taken by rich decorators (main_tag != wrap_tag,
    so the tag switches mid-word once a Pre line overflows), in Pre and
    PreWrap, with fragment markers landing inside words."""
    rng = random.Random(23)
    for trial in range(300):
        width = rng.randint(1, 40)
        allow_overflow = rng.random() < 0.5
        steps = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.2:
                steps.append(("frag", f"f{len(steps)}"))
                continue
            ws_mode = rng.choice([WS_PRE, WS_PRE, WS_PRE_WRAP])
            tag = (rng.choice("tu"),)
            steps.append(
                ("text", (ws_mode, random_pre_text(rng), tag, tag + ("cont",)))
            )

        def run(cls):
            return render_elements(cls(width, False, allow_overflow, ("t",)), steps)

        fast = outcome(lambda: run(WrappedBlock))
        slow = outcome(lambda: run(FrozenBlock))
        assert fast == slow, (width, allow_overflow, steps)


HARD_WRAP_CHARS = (
    list("abcxyz0189.,-_()") * 4
    + [" ", "\xa0", "日", "好", "💡", "\u0301", "é", "ñ", "—"]
)


def test_differential_hard_wrap():
    """flush_word_hard_wrap against the char-by-char splitter: random words
    (all-ASCII and mixed-width pieces, several tags, fragment markers)
    after a random line prefix, at widths 0-40, with and without
    allow_overflow, so both TooNarrow and the overflow split are reached."""
    rng = random.Random(31)
    seen = set()
    for trial in range(2000):
        width = rng.randint(0, 40)
        allow_overflow = rng.random() < 0.5
        prefix = "p" * rng.randint(0, width + 2)
        items = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.15:
                items.append(FragmentStart("f"))
                continue
            n = rng.randint(0, 300)
            if rng.random() < 0.5:
                s = "".join(rng.choice("abcdefgh xyz") for _ in range(n))
            else:
                s = "".join(rng.choice(HARD_WRAP_CHARS) for _ in range(n))
            items.append(TaggedString(s, (rng.choice("tu"), WS_NORMAL)))

        def run(cls):
            block = cls(width, False, allow_overflow, ("t",))
            if prefix:
                block.line.push_str(TaggedString(prefix, ("p", WS_NORMAL)))
            for item in items:
                if isinstance(item, TaggedString):
                    block.word.push(TaggedString(item.s, item.tag))
                else:
                    block.word.push(item)
            block.flush_word_hard_wrap()
            block.force_flush_line()
            return [[(e.s, e.tag) for e in line.v] for line in block.text]

        fast = outcome(lambda: run(WrappedBlock))
        slow = outcome(lambda: run(FrozenBlock))
        assert fast == slow, (width, allow_overflow, prefix, items)
        seen.add(fast[0])
        if fast[0] == "ok" and any(
            sum(max(char_width(c), 0) for s, _ in line for c in s) > width
            for line in fast[1]
            if line and line[0][1][0] != "p"
        ):
            seen.add("overflow")  # a too-wide char was split off alone
    assert seen == {"ok", "too_narrow", "overflow"}
