"""Shared extraction helpers: columnar record emitter + line-aware XML walker.

The emitter is the hot path of the whole pipeline (every symbol/edge/mention
the lexers produce flows through it), so records accumulate COLUMNAR — one
python list per output column, appended in place — and each Arrow batch is
materialized once via ``pd.DataFrame(dict_of_lists)``. This replaces the
round-1 per-record dict assembly (34-key dict per record +
``pd.DataFrame(list_of_dicts)``), which dominated extraction wall time.
"""

from __future__ import annotations

import xml.parsers.expat
from dataclasses import dataclass, field

from codegraph import keys

EXTRACT_COLUMNS = [
    "rec", "repo", "path", "lang",
    "key", "name", "kind", "klass", "fqn", "accessibility", "namespace",
    "start_line", "end_line", "documentation", "comments", "version",
    "language", "technology",
    "src_key", "dst_key", "rel_type",
    "m_kind", "m_from_key", "m_rel", "m_name", "m_recv", "m_usings", "m_nargs",
    "m_args", "m_head",
    "url_dep_key", "url_key", "url_name",
    "file_namespace", "file_key_override",
]

US = "\x1f"  # separator for m_usings namespace lists / m_args token lists
RS = "\x1e"  # separator BETWEEN hop signatures in a chain mention's m_head
#              (each hop is itself US-joined: name, nargs, arg tokens)

_COMMON = ("rec", "repo", "path", "lang")


def _rest(used: tuple[str, ...]) -> tuple[str, ...]:
    skip = set(used) | set(_COMMON)
    return tuple(c for c in EXTRACT_COLUMNS if c not in skip)


def _pa_types():
    import pyarrow as pa

    return {"start_line": pa.int32(), "end_line": pa.int32(),
            "m_nargs": pa.int32()}, pa.string()


try:  # arrow is always present under pyspark; guard for bare-python tools
    _PA_TYPES, _PA_STR = _pa_types()
except Exception:  # pragma: no cover
    _PA_TYPES, _PA_STR = {}, None

_SYMBOL_REST = _rest(("key", "name", "kind", "klass", "fqn", "accessibility",
                      "namespace", "start_line", "end_line", "documentation",
                      "comments", "version", "language", "technology"))
_REL_REST = _rest(("src_key", "dst_key", "rel_type"))
_MENTION_REST = _rest(("m_kind", "m_from_key", "m_rel", "m_name", "m_recv",
                       "m_usings", "m_nargs", "m_args", "m_head"))
_URL_REST = _rest(("url_dep_key", "url_key", "url_name"))
_FILEMETA_REST = _rest(("file_namespace", "file_key_override"))


class Emitter:
    """Columnar record accumulator. One instance serves a whole Arrow batch:
    ``set_file`` switches the per-file context between files, emit methods
    append one record to the shared column lists."""

    def __init__(self, repo: str | None = None, path: str | None = None,
                 lang: str | None = None, language: str | None = None,
                 technology: str | None = None):
        self._cols: dict[str, list] = {c: [] for c in EXTRACT_COLUMNS}
        self.n = 0
        self.set_file(repo, path, lang, language, technology)

    def set_file(self, repo, path, lang, language, technology) -> None:
        self.repo = repo
        self.path = path
        self.lang = lang
        self.language = language
        self.technology = technology

    def _common(self, rec: str) -> None:
        c = self._cols
        c["rec"].append(rec)
        c["repo"].append(self.repo)
        c["path"].append(self.path)
        c["lang"].append(self.lang)
        self.n += 1

    def symbol(self, key, name, kind, klass, fqn, accessibility, namespace,
               start_line, end_line=None, documentation=None, comments=None,
               version=None):
        self._common("symbol")
        c = self._cols
        c["key"].append(key)
        c["name"].append(name)
        c["kind"].append(kind)
        c["klass"].append(klass)
        c["fqn"].append(fqn)
        c["accessibility"].append(accessibility)
        c["namespace"].append(namespace)
        c["start_line"].append(int(start_line))
        c["end_line"].append(int(end_line if end_line is not None else start_line))
        c["documentation"].append(keys.truncate(documentation))
        c["comments"].append(keys.truncate(comments))
        c["version"].append(version)
        c["language"].append(self.language)
        c["technology"].append(self.technology)
        for col in _SYMBOL_REST:
            c[col].append(None)

    def rel(self, src_key: str, dst_key: str, rel_type: str):
        self._common("rel")
        c = self._cols
        c["src_key"].append(src_key)
        c["dst_key"].append(dst_key)
        c["rel_type"].append(rel_type)
        for col in _REL_REST:
            c[col].append(None)

    def mention(self, m_kind: str, m_from_key: str, m_rel: str, m_name: str,
                m_recv: str | None, usings: list[str], m_nargs: int | None = None,
                m_args: list[str] | None = None, m_head: str | None = None):
        self._common("mention")
        c = self._cols
        c["m_kind"].append(m_kind)
        c["m_from_key"].append(m_from_key)
        c["m_rel"].append(m_rel)
        c["m_name"].append(m_name)
        c["m_recv"].append(m_recv)
        c["m_usings"].append(US.join(usings))
        c["m_nargs"].append(m_nargs)
        # classified argument type tokens ('' = unknown), for overload matching
        c["m_args"].append(US.join(m_args) if m_args is not None else None)
        # chain head call / retsig return token / extsig member display
        c["m_head"].append(m_head)
        for col in _MENTION_REST:
            c[col].append(None)

    def url(self, dep_key: str, url_key: str, name: str):
        self._common("url")
        c = self._cols
        c["url_dep_key"].append(dep_key)
        c["url_key"].append(url_key)
        c["url_name"].append(name)
        for col in _URL_REST:
            c[col].append(None)

    def filemeta(self, file_namespace: str | None,
                 file_key_override: str | None = None):
        self._common("filemeta")
        c = self._cols
        c["file_namespace"].append(file_namespace)
        c["file_key_override"].append(file_key_override)
        for col in _FILEMETA_REST:
            c[col].append(None)

    def to_arrow(self):
        """Arrow record batch straight from the column lists — no pandas
        object-array hop on the return side of the Python boundary (the
        per-column pandas->Arrow coercion was a measurable slice of the
        extraction stage; ``pa.array`` over a python list is one C call)."""
        import pyarrow as pa

        return pa.RecordBatch.from_arrays(
            [pa.array(self._cols[c], type=_PA_TYPES.get(c, _PA_STR))
             for c in EXTRACT_COLUMNS],
            names=EXTRACT_COLUMNS)

    @property
    def rows(self) -> list[dict]:
        """Row-dict view (test/debug convenience — NOT the hot path)."""
        cols = self._cols
        return [{c: cols[c][i] for c in EXTRACT_COLUMNS} for i in range(self.n)]


# ---------------------------------------------------------------------------
# line-aware XML walker (replaces System.Xml.Linq + LoadOptions.SetLineInfo)
# ---------------------------------------------------------------------------


@dataclass
class XmlEl:
    local: str
    line: int
    attrs: list[tuple[str, str, str]] = field(default_factory=list)  # (nsuri, local, value)
    children: list["XmlEl"] = field(default_factory=list)
    text: str = ""  # direct character data (XElement.Value for leaf elements)


def parse_xml(content: str) -> XmlEl | None:
    """Parse XML into a line-annotated element tree. Returns None on error
    (reference handlers log-and-skip malformed XML, e.g. XmlHandler.cs:38-43).

    Namespace handling matches XName.LocalName semantics: attribute names are
    split into (namespace-uri, local); xmlns declarations are recorded with
    nsuri sentinel 'xmlns' so callers can skip them like IsNamespaceDeclaration.
    """
    parser = xml.parsers.expat.ParserCreate(namespace_separator="\x00")
    root: list[XmlEl] = []
    stack: list[XmlEl] = []

    def split_name(n: str) -> tuple[str, str]:
        if "\x00" in n:
            uri, local = n.split("\x00", 1)
            return uri, local
        return "", n

    def start(tag, attrs):
        _, local = split_name(tag)
        el = XmlEl(local=local, line=parser.CurrentLineNumber)
        for aname, aval in attrs.items():
            uri, alocal = split_name(aname)
            el.attrs.append((uri, alocal, aval))
        if stack:
            stack[-1].children.append(el)
        else:
            root.append(el)
        stack.append(el)

    def end(tag):
        stack.pop()

    parser.StartElementHandler = start
    parser.EndElementHandler = end
    try:
        parser.Parse(content, True)
    except xml.parsers.expat.ExpatError:
        return None
    return root[0] if root else None


def parse_xml_keep_xmlns(content: str) -> XmlEl | None:
    """Like parse_xml but keeps xmlns declarations visible as attributes with
    nsuri sentinel '@xmlns' (XAML needs to skip them explicitly)."""
    # expat with namespace_separator hides xmlns attrs; re-parse without
    # namespace processing and resolve prefixes manually.
    parser = xml.parsers.expat.ParserCreate()
    root: list[XmlEl] = []
    stack: list[XmlEl] = []
    nsstack: list[dict[str, str]] = [{}]

    def start(tag, attrs):
        scope = dict(nsstack[-1])
        for aname, aval in attrs.items():
            if aname == "xmlns":
                scope[""] = aval
            elif aname.startswith("xmlns:"):
                scope[aname[6:]] = aval
        nsstack.append(scope)
        local = tag.split(":", 1)[1] if ":" in tag else tag
        el = XmlEl(local=local, line=parser.CurrentLineNumber)
        for aname, aval in attrs.items():
            if aname == "xmlns" or aname.startswith("xmlns:"):
                el.attrs.append(("@xmlns", aname, aval))
            elif ":" in aname:
                pfx, alocal = aname.split(":", 1)
                el.attrs.append((scope.get(pfx, ""), alocal, aval))
            else:
                # unprefixed attributes have NO namespace (XML spec / XName)
                el.attrs.append(("", aname, aval))
        if stack:
            stack[-1].children.append(el)
        else:
            root.append(el)
        stack.append(el)

    def end(tag):
        stack.pop()
        nsstack.pop()

    def chardata(data):
        if stack:
            stack[-1].text += data

    parser.StartElementHandler = start
    parser.EndElementHandler = end
    parser.CharacterDataHandler = chardata
    try:
        parser.Parse(content, True)
    except xml.parsers.expat.ExpatError:
        return None
    return root[0] if root else None
