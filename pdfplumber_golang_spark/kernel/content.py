"""Content-stream interpreter: decoded stream bytes → char/edge/rect objects.

Behavior-parity reimplementation of the reference interpreter
(/root/reference/pkg/pdf/content_stream_parser.go:506-1241 — SURVEY §2.3
I1-I15) using the typed tokenizer semantics of
/root/reference/pkg/content/extractor.go:709-972 (L3, the canonical lexer:
full typed TJ-array parsing, not string re-joins).

Load-bearing parity details (SURVEY §7 "hard parts"):
  - heuristic char-width table (0.25/0.3/0.5/0.8 em,
    content_stream_parser.go:1244-1257) — replicated EXACTLY;
  - char position = text-matrix (E,F) pushed through the CTM
    (content_stream_parser.go:1203-1208);
  - advance = (width + wordspace-if-space + charspace) * hscale, applied
    along (Tm.A, Tm.B) (content_stream_parser.go:1228-1240);
  - CMYK→RGB approximated as (1-c)(1-k) (content_stream_parser.go:1116-1150).
"""

from __future__ import annotations

from . import lexer as lx
from .cmap import CMap

#: reference em widths, 0.5 for other chars (content_stream_parser.go:1244-1257)
_WIDTHS = {" ": 0.25, **{c: 0.3 for c in "ilI!.,;:'\""}, **{c: 0.8 for c in "mMWw"}}


class Font:
    __slots__ = ("name", "base", "cmap", "two_byte")

    def __init__(self, name: str, base: str, cmap: CMap | None, two_byte: bool):
        self.name = name
        self.base = base
        self.cmap = cmap
        self.two_byte = two_byte

    def decode(self, raw: bytes) -> str:
        if self.cmap is not None:
            return self.cmap.decode(raw)
        return raw.decode("latin-1")


IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mul(m1, m2):
    """2x3 affine multiply: result = m1 · m2 (m1 applied first)."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _apply(m, x, y):
    a, b, c, d, e, f = m
    return a * x + c * y + e, b * x + d * y + f


class GraphicsState:
    __slots__ = ("ctm", "line_width", "stroke_rgb", "fill_rgb")

    def __init__(self):
        self.ctm = IDENTITY
        self.line_width = 1.0
        self.stroke_rgb = (0, 0, 0)
        self.fill_rgb = (0, 0, 0)

    def clone(self) -> "GraphicsState":
        g = GraphicsState.__new__(GraphicsState)
        g.ctm = self.ctm
        g.line_width = self.line_width
        g.stroke_rgb = self.stroke_rgb
        g.fill_rgb = self.fill_rgb
        return g


class Interpreter:
    """One page's content stream → object vectors.

    Output rows (plain tuples, converted to Arrow batches by the caller):
      chars: (text, font, size, x0, y0, x1, y1, width, height)
      edges: (x0, y0, x1, y1, stroke_width)
      rects: (x0, y0, x1, y1, stroke_width, filled, stroked)
      curves: (pts:list[(x,y)],)
    """

    def __init__(self, fonts: dict[str, Font], xobjects: dict | None = None):
        self.fonts = fonts
        self.xobjects = xobjects or {}  # name -> image metadata dict
        self.chars: list[tuple] = []
        self.edges: list[tuple] = []
        self.rects: list[tuple] = []
        self.curves: list[tuple] = []
        self.images: list[tuple] = []
        self.gs = GraphicsState()
        self.gs_stack: list[GraphicsState] = []
        # text state
        self.tm = IDENTITY
        self.tlm = IDENTITY
        self.char_space = 0.0
        self.word_space = 0.0
        self.hscale = 100.0
        self.leading = 0.0
        self.font: Font | None = None
        self.font_size = 0.0
        self.rise = 0.0
        self.render_mode = 0
        # path state
        self.path: list[list[tuple[float, float]]] = []  # subpaths
        self._cur_sub: list[tuple[float, float]] | None = None
        self._rect_candidates: list[tuple[float, float, float, float]] = []
        self._form_depth = 0  # recursive Form-XObject execution guard

    # ------------------------------------------------------------ main ---
    def run(self, stream: bytes) -> None:
        """Interpret a content stream. Fast path: one regex scan
        (lexer.content_tokens) when no inline images are present; streams
        with BI/ID binary sections use the stateful Lexer (seekable)."""
        if b"BI" in stream:
            return self._run_lexer(stream)
        operands: list = []
        dispatch = _OPS
        depth_skip = 0
        arr: list | None = None
        for kind, val in lx.content_tokens(stream):
            if depth_skip:  # inside an inline dict (BDC/DP properties)
                if kind == lx.DICT_OPEN:
                    depth_skip += 1
                elif kind == lx.DICT_CLOSE:
                    depth_skip -= 1
                    if depth_skip == 0:
                        operands.append(None)
                continue
            if arr is not None:
                if kind == lx.ARRAY_CLOSE:
                    operands.append(arr)
                    arr = None
                else:
                    arr.append(val)
                continue
            if kind == lx.NUM or kind == lx.STRING or kind == lx.NAME:
                operands.append(val)
            elif kind == lx.ARRAY_OPEN:
                arr = []
            elif kind == lx.DICT_OPEN:
                depth_skip = 1
            elif kind == lx.KEYWORD:
                handler = dispatch.get(val)
                if handler is not None:
                    try:
                        handler(self, operands)
                    except (IndexError, TypeError, ValueError):
                        pass
                operands.clear()

    def _run_lexer(self, stream: bytes) -> None:
        lex = lx.Lexer(stream)
        operands: list = []
        while True:
            tok = lex.next()
            k = tok.kind
            if k == lx.EOF:
                break
            if k == lx.NUM or k == lx.STRING:
                operands.append(tok.val)
            elif k == lx.NAME:
                operands.append(tok.val)
            elif k == lx.ARRAY_OPEN:
                arr = []
                while True:
                    t = lex.next()
                    if t.kind in (lx.ARRAY_CLOSE, lx.EOF):
                        break
                    arr.append(t.val)
                operands.append(arr)
            elif k == lx.DICT_OPEN:
                # inline dict (BDC/DP properties): skip to >>
                depth = 1
                while depth:
                    t = lex.next()
                    if t.kind == lx.DICT_OPEN:
                        depth += 1
                    elif t.kind == lx.DICT_CLOSE or t.kind == lx.EOF:
                        depth -= 1
                operands.append(None)
            elif k == lx.KEYWORD:
                if tok.val == "BI":
                    self._skip_inline_image(lex)
                    operands.clear()
                else:
                    self._dispatch(tok.val, operands)
                    operands.clear()

    _INLINE_KEYS = {
        "W": "width", "Width": "width",
        "H": "height", "Height": "height",
        "CS": "colorspace", "ColorSpace": "colorspace",
        "BPC": "bpc", "BitsPerComponent": "bpc",
    }

    def _skip_inline_image(self, lex: lx.Lexer) -> None:
        """BI <dict> ID <binary> EI: parse the parameter dict (so inline
        images join the images relation with metadata + CTM-placed bbox —
        round 3), then skip the binary payload.  'EI' can occur inside
        unencoded image bytes, so only accept it when delimited by PDF
        whitespace (or start/end of stream) on BOTH sides — otherwise the
        scan would resume mid-image and feed garbage tokens to the
        interpreter (ADVICE r1)."""
        start = lex.pos
        params: dict | None = {}
        try:
            key = None
            while True:
                tok = lex.next()
                if tok.kind == lx.EOF:
                    break
                if tok.kind == lx.KEYWORD and tok.val == "ID":
                    break
                if tok.kind == lx.NAME and key is None:
                    key = tok.val
                elif key is not None:
                    params[key] = tok.val
                    key = None
        except Exception:
            lex.pos = start  # unparseable dict: raw EI skip only
            params = None
        data, n = lex.data, len(lex.data)
        ws = b"\x00\t\n\x0c\r "
        first = data.find(b"EI", lex.pos)
        pos = first
        end = None
        while pos >= 0:
            before_ok = pos == 0 or data[pos - 1] in ws
            after_ok = pos + 2 >= n or data[pos + 2] in ws
            if before_ok and after_ok:
                end = pos + 2
                break
            pos = data.find(b"EI", pos + 1)
        if end is None:
            # no delimited terminator at all (ISO 32000 does not require
            # whitespace before EI): fall back to the first bare 'EI'
            # rather than discarding the rest of the stream
            end = n if first < 0 else first + 2
        lex.pos = end
        if params:
            got = {}
            for k, v in params.items():
                std = self._INLINE_KEYS.get(str(k))
                if std is not None:
                    got[std] = v
            try:
                ctm = self.gs.ctm
                corners = [_apply(ctm, x, y) for x, y in
                           ((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))]
                xs = [c[0] for c in corners]
                ys = [c[1] for c in corners]
                self.images.append(
                    ("inline",
                     int(got.get("width") or 0),
                     int(got.get("height") or 0),
                     str(got.get("colorspace") or ""),
                     int(got.get("bpc") or 0),
                     min(xs), min(ys), max(xs), max(ys))
                )
            except (TypeError, ValueError):
                pass  # malformed params: image skipped, text unaffected

    # -------------------------------------------------------- dispatch ---
    def _dispatch(self, op: str, o: list) -> None:
        try:
            handler = _OPS.get(op)
            if handler is not None:
                handler(self, o)
        except (IndexError, TypeError, ValueError):
            pass  # malformed operands: reference skips silently

    # ------------------------------------------------------ text state ---
    def op_BT(self, o):
        self.tm = IDENTITY
        self.tlm = IDENTITY

    def op_ET(self, o):
        pass

    def op_Td(self, o):
        self.tlm = _mul((1, 0, 0, 1, float(o[-2]), float(o[-1])), self.tlm)
        self.tm = self.tlm

    def op_TD(self, o):
        self.leading = -float(o[-1])
        self.op_Td(o)

    def op_Tm(self, o):
        self.tlm = tuple(float(v) for v in o[-6:])
        self.tm = self.tlm

    def op_Tstar(self, o):
        self.tlm = _mul((1, 0, 0, 1, 0.0, -self.leading), self.tlm)
        self.tm = self.tlm

    def op_Tc(self, o):
        self.char_space = float(o[-1])

    def op_Tw(self, o):
        self.word_space = float(o[-1])

    def op_Tz(self, o):
        self.hscale = float(o[-1])

    def op_TL(self, o):
        self.leading = float(o[-1])

    def op_Tf(self, o):
        name, size = o[-2], float(o[-1])
        self.font = self.fonts.get(str(name))
        self.font_size = size

    def op_Tr(self, o):
        self.render_mode = int(o[-1])

    def op_Ts(self, o):
        self.rise = float(o[-1])

    # ------------------------------------------------------- text show ---
    def op_Tj(self, o):
        if o and isinstance(o[-1], (bytes, bytearray)):
            self._show(bytes(o[-1]))

    def op_TJ(self, o):
        arr = o[-1] if o and isinstance(o[-1], list) else []
        fs, hs = self.font_size, self.hscale / 100.0
        for el in arr:
            if isinstance(el, (bytes, bytearray)):
                self._show(bytes(el))
            elif isinstance(el, (int, float)):
                tx = (-float(el) / 1000.0) * fs * hs
                a, b, c, d, e, f = self.tm
                self.tm = (a, b, c, d, e + tx * a, f + tx * b)

    def op_quote(self, o):
        self.op_Tstar([])
        self.op_Tj(o)

    def op_dquote(self, o):
        self.word_space = float(o[-3])
        self.char_space = float(o[-2])
        self.op_quote([o[-1]])

    def _show(self, raw: bytes) -> None:
        """Emit one CharObject per code point (addTextChars parity)."""
        font = self.font
        if font is None or not raw:
            return
        text = font.decode(raw)
        if not text:
            return
        fs = self.font_size
        hs = self.hscale / 100.0
        cs, ws = self.char_space, self.word_space
        ctm = self.gs.ctm
        chars = self.chars
        fname = font.name
        widths = _WIDTHS
        a, b, c, d, e, f = self.tm
        if ctm == IDENTITY and b == 0.0 and hs == 1.0:
            # dominant case: untransformed horizontal text — flat fast path
            append = chars.append
            if cs == 0.0 and ws == 0.0 and a == 1.0:
                # dominant sub-case: zero char/word spacing, unit scale —
                # advance is exactly w (w + 0.0 + 0.0) * 1.0 == w in IEEE,
                # so the emitted floats are bit-identical to the general
                # loop; measured 12.6% off the whole PDF pass (r6)
                ffs = f + fs
                get = widths.get
                for ch in text:
                    w = get(ch, 0.5) * fs
                    append((ch, fname, fs, e, f, e + w, ffs, w, fs))
                    e += w
                self.tm = (a, b, c, d, e, f)
                return
            for ch in text:
                w = widths.get(ch, 0.5) * fs
                append((ch, fname, fs, e, f, e + w, f + fs, w, fs))
                e += (w + (ws if ch == " " else 0.0) + cs) * a
            self.tm = (a, b, c, d, e, f)
            return
        for ch in text:
            w = widths.get(ch, 0.5) * fs
            x, y = _apply(ctm, e, f)
            chars.append((ch, fname, fs, x, y, x + w, y + fs, w, fs))
            disp = (w + (ws if ch == " " else 0.0) + cs) * hs
            e += disp * a
            f += disp * b
        self.tm = (a, b, c, d, e, f)

    # ------------------------------------------------- graphics state ----
    def op_q(self, o):
        self.gs_stack.append(self.gs.clone())

    def op_Q(self, o):
        if self.gs_stack:
            self.gs = self.gs_stack.pop()

    def op_cm(self, o):
        m = tuple(float(v) for v in o[-6:])
        self.gs.ctm = _mul(m, self.gs.ctm)

    def op_w(self, o):
        self.gs.line_width = float(o[-1])

    def op_noop(self, o):
        pass

    # ------------------------------------------------------------ path ---
    def op_m(self, o):
        self._cur_sub = [(float(o[-2]), float(o[-1]))]
        self.path.append(self._cur_sub)

    def op_l(self, o):
        if self._cur_sub is None:
            self.op_m(o)
        else:
            self._cur_sub.append((float(o[-2]), float(o[-1])))

    def op_c(self, o):
        if self._cur_sub is not None:
            self._cur_sub.append((float(o[-2]), float(o[-1])))

    op_v = op_c
    op_y = op_c

    def op_h(self, o):
        if self._cur_sub and len(self._cur_sub) > 1:
            self._cur_sub.append(self._cur_sub[0])

    def op_re(self, o):
        x, y, w, h = (float(v) for v in o[-4:])
        sub = [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]
        self.path.append(sub)
        self._cur_sub = None
        self._rect_candidates.append((x, y, x + w, y + h))

    def _clear_path(self):
        self.path = []
        self._cur_sub = None
        self._rect_candidates = []

    def _emit_stroke(self):
        lw = self.gs.line_width
        ctm = self.gs.ctm
        for sub in self.path:
            if len(sub) < 2:
                continue
            pts = [_apply(ctm, px, py) for px, py in sub]
            if len(pts) == 2 or _is_axis_chain(pts):
                for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
                    self.edges.append((x0, y0, x1, y1, lw))
            else:
                self.curves.append((pts,))

    def _emit_fill(self):
        lw = self.gs.line_width
        ctm = self.gs.ctm
        for sub in self.path:
            rect = _rect_of_subpath(sub)
            if rect is not None:
                (x0, y0), (x1, y1) = _apply(ctm, rect[0], rect[1]), _apply(
                    ctm, rect[2], rect[3]
                )
                self.rects.append(
                    (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1), lw, True, False)
                )
            elif len(sub) > 2:
                self.curves.append(([_apply(ctm, px, py) for px, py in sub],))

    def op_S(self, o):
        self._emit_stroke()
        self._clear_path()

    def op_s(self, o):
        self.op_h([])
        self.op_S(o)

    def op_f(self, o):
        self._emit_fill()
        self._clear_path()

    def op_B(self, o):
        self._emit_fill()
        self._emit_stroke()
        self._clear_path()

    def op_b(self, o):
        self.op_h([])
        self.op_B(o)

    def op_n(self, o):
        self._clear_path()

    # ----------------------------------------------------------- xobject --
    def op_Do(self, o):
        """Image XObject placement (PDF 32000-1 §8.8.23): the CTM maps the
        image's unit square to device space; emit one image row with the
        placed bbox + the XObject's intrinsic metadata.  (The reference
        defines ImageObject but never emits one — types.go:216-245 with
        only empty `Images:` initializers — so this is beyond-parity.)
        Form XObjects are ignored (none in any corpus; interpreting them
        needs recursive stream execution)."""
        meta = self.xobjects.get(str(o[-1]))
        if meta is None:
            return
        if meta.get("form"):
            # Form XObject (PDF 32000-1 §8.10): gsave, prepend /Matrix to
            # the CTM, execute the form's content stream with the form's
            # own Resources (fonts/xobjects fall back to the page's when
            # the form declares none), grestore.  run() keeps all parse
            # state local, so recursion is safe; depth-bounded against
            # self-referential forms.
            if self._form_depth >= 8:
                return
            self._form_depth += 1
            self.op_q([])
            self.op_cm(list(meta["matrix"]))
            # q/Q semantics treat ALL text-state parameters as part of
            # graphics state (PDF 32000-1 §9.3.1) — save/restore the full
            # set so Tc/Tw/Tz/TL/Tr/Ts set inside the form do not leak
            # into subsequent page content.
            saved = (self.fonts, self.xobjects, self.font, self.font_size,
                     self.tm, self.tlm, self.char_space, self.word_space,
                     self.hscale, self.leading, self.rise, self.render_mode)
            if meta.get("fonts"):
                self.fonts = meta["fonts"]
            if meta.get("xobjects") is not None:
                self.xobjects = meta["xobjects"]
            try:
                self.run(meta["stream"])
            finally:
                (self.fonts, self.xobjects, self.font, self.font_size,
                 self.tm, self.tlm, self.char_space, self.word_space,
                 self.hscale, self.leading, self.rise,
                 self.render_mode) = saved
                self.op_Q([])
                self._form_depth -= 1
            return
        ctm = self.gs.ctm
        corners = [_apply(ctm, x, y) for x, y in
                   ((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))]
        xs = [c[0] for c in corners]
        ys = [c[1] for c in corners]
        self.images.append(
            (str(o[-1]), meta.get("width"), meta.get("height"),
             meta.get("colorspace"), meta.get("bpc"),
             min(xs), min(ys), max(xs), max(ys))
        )

    # ------------------------------------------------------------ color --
    def op_rg(self, o):
        self.gs.fill_rgb = tuple(float(v) for v in o[-3:])

    def op_RG(self, o):
        self.gs.stroke_rgb = tuple(float(v) for v in o[-3:])

    def op_g(self, o):
        v = float(o[-1])
        self.gs.fill_rgb = (v, v, v)

    def op_G(self, o):
        v = float(o[-1])
        self.gs.stroke_rgb = (v, v, v)

    def op_k(self, o):
        self.gs.fill_rgb = _cmyk_rgb(*(float(v) for v in o[-4:]))

    def op_K(self, o):
        self.gs.stroke_rgb = _cmyk_rgb(*(float(v) for v in o[-4:]))


def _cmyk_rgb(c, m, y, k):
    """Reference approximation (content_stream_parser.go:1116-1150)."""
    return ((1 - c) * (1 - k), (1 - m) * (1 - k), (1 - y) * (1 - k))


def _is_axis_chain(pts) -> bool:
    return all(
        abs(x0 - x1) < 1e-9 or abs(y0 - y1) < 1e-9
        for (x0, y0), (x1, y1) in zip(pts, pts[1:])
    )


def _rect_of_subpath(sub):
    """Axis-aligned-rectangle detection (isRectanglePath parity,
    content_stream_parser.go:960-1020): 4 or 5 points, axis-aligned sides."""
    pts = sub
    if len(pts) == 5 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) != 4:
        return None
    xs = sorted({round(p[0], 6) for p in pts})
    ys = sorted({round(p[1], 6) for p in pts})
    if len(xs) != 2 or len(ys) != 2:
        return None
    corners = {(x, y) for x in xs for y in ys}
    if {(round(p[0], 6), round(p[1], 6)) for p in pts} != corners:
        return None
    return (xs[0], ys[0], xs[1], ys[1])


_OPS = {
    "BT": Interpreter.op_BT, "ET": Interpreter.op_ET,
    "Td": Interpreter.op_Td, "TD": Interpreter.op_TD,
    "Tm": Interpreter.op_Tm, "T*": Interpreter.op_Tstar,
    "Tc": Interpreter.op_Tc, "Tw": Interpreter.op_Tw,
    "Tz": Interpreter.op_Tz, "TL": Interpreter.op_TL,
    "Tf": Interpreter.op_Tf, "Tr": Interpreter.op_Tr,
    "Ts": Interpreter.op_Ts,
    "Tj": Interpreter.op_Tj, "TJ": Interpreter.op_TJ,
    "'": Interpreter.op_quote, '"': Interpreter.op_dquote,
    "q": Interpreter.op_q, "Q": Interpreter.op_Q, "cm": Interpreter.op_cm,
    "w": Interpreter.op_w,
    "J": Interpreter.op_noop, "j": Interpreter.op_noop,
    "M": Interpreter.op_noop, "d": Interpreter.op_noop,
    "ri": Interpreter.op_noop, "i": Interpreter.op_noop,
    "gs": Interpreter.op_noop, "Do": Interpreter.op_Do,
    "BDC": Interpreter.op_noop, "BMC": Interpreter.op_noop,
    "EMC": Interpreter.op_noop, "DP": Interpreter.op_noop,
    "MP": Interpreter.op_noop, "sh": Interpreter.op_noop,
    "W": Interpreter.op_noop, "W*": Interpreter.op_noop,
    "m": Interpreter.op_m, "l": Interpreter.op_l, "c": Interpreter.op_c,
    "v": Interpreter.op_v, "y": Interpreter.op_y, "h": Interpreter.op_h,
    "re": Interpreter.op_re,
    "S": Interpreter.op_S, "s": Interpreter.op_s,
    "f": Interpreter.op_f, "F": Interpreter.op_f, "f*": Interpreter.op_f,
    "B": Interpreter.op_B, "B*": Interpreter.op_B,
    "b": Interpreter.op_b, "b*": Interpreter.op_b,
    "n": Interpreter.op_n,
    "rg": Interpreter.op_rg, "RG": Interpreter.op_RG,
    "g": Interpreter.op_g, "G": Interpreter.op_G,
    "k": Interpreter.op_k, "K": Interpreter.op_K,
    "cs": Interpreter.op_noop, "CS": Interpreter.op_noop,
    "sc": Interpreter.op_noop, "scn": Interpreter.op_noop,
    "SC": Interpreter.op_noop, "SCN": Interpreter.op_noop,
}
