/* The compiled block walk of octospark.extractor.

   walk(text) -> (records, salvage) returns exactly what the stdlib
   reference, extractor._stdlib_walk, returns: the same block records
   (text, n_words, n_link_chars, link_density, node), the same linked
   open-tag nodes (tag, parent, forced, in_table, depth) and the same
   'salvaged:<type>' flag. It is one loop that tokenizes and keeps the
   block state (skip depth, link depth, open-tag node, pieces) in C.

   Everything hard is delegated to extractor's own objects, which
   configure() hands over once:
   - the tag vocabularies (_SKIP_TAGS, _BLOCK_TAGS, _ANCESTOR_LABELS,
     _TABLE_TAGS) and the strict script/style close patterns;
   - a construct the hand matcher below declines goes to _TOKEN.match,
     then to _tolerant_token;
   - data holding '&' goes through html.unescape;
   - a block's text and word count come from str.split and str.join.

   The hand matcher takes the common forms of _TOKEN: data up to '<',
   '</name>', a simple start tag with quoted or simple attributes, a
   closed comment and a doctype. At every choice point of the pattern
   it takes the first alternative the regex engine would try, and it
   declines whenever that alternative fails later, so a token it takes
   is the token _TOKEN.match returns. '\s' is Py_UNICODE_ISSPACE, which
   is what the re module uses for str patterns. */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <stdint.h>
#include <string.h>

#define END_CH 0x110000 /* a read past the end: in no character class */
#define TAG_LEN 32      /* longest tag name kept in the tag table */
#define TAG_CAP 512     /* most names kept in the tag table */
#define SLOTS 1024      /* open-addressing slots (2 * TAG_CAP) */

enum { F_SKIP = 1, F_BLOCK = 2, F_TABLE = 4, F_LINK = 8, F_VOID = 16 };

/* What the walk needs to know of one lowercased tag name. */
typedef struct {
    PyObject *name;   /* the lowercased name */
    PyObject *forced; /* its ancestor label, or NULL */
    PyObject *cdata;  /* its strict close pattern's search, or NULL */
    int flags;
    int idx; /* its tag-table index, or -1 outside the table */
} Tag;

/* configure()'s objects */
static PyObject *skip_tags, *block_tags, *ancestor_labels, *table_tags,
    *cdata_strict, *token_match, *tolerant_token, *unescape, *root;
static PyObject *empty_str, *space_str, *comment_close;

/* The names seen so far, each with its Tag; shared by every walk. */
static Tag table[TAG_CAP];
static char table_key[TAG_CAP][TAG_LEN];
static Py_ssize_t table_len[TAG_CAP];
static int n_table;
static short slots[SLOTS]; /* table index + 1; 0 is empty */

typedef struct {
    PyObject *text;
    int kind;
    const void *data;
    Py_ssize_t n;
    PyObject *records, *pieces;
    PyObject *node, *block_node;
    Py_ssize_t link_chars; /* normalized length of the block's link data */
    Py_ssize_t skip_depth, link_depth;
    int *levels; /* the table index of each open tag, -1 outside it */
    Py_ssize_t depth, cap;
    PyObject *other_counts; /* open counts of names outside the table */
    Py_ssize_t counts[TAG_CAP]; /* open counts of the table's names */
} Walk;

typedef struct {
    enum { T_END, T_START, T_OTHER } kind;
    Py_ssize_t a, b; /* the tag name's span */
    int selfclose;
    Py_ssize_t end;
} Token;

static void
tag_clear(Tag *t)
{
    Py_CLEAR(t->name);
    Py_CLEAR(t->forced);
    Py_CLEAR(t->cdata);
}

static int
has(PyObject *set, PyObject *name, int flag, int *flags)
{
    int r = PySequence_Contains(set, name);
    if (r > 0)
        *flags |= flag;
    return r;
}

/* Fill t for the lowercased name (a new reference is taken). */
static int
tag_fill(Tag *t, PyObject *name)
{
    PyObject *v;
    int r;

    memset(t, 0, sizeof *t);
    t->idx = -1;
    Py_INCREF(name);
    t->name = name;
    if (has(skip_tags, name, F_SKIP, &t->flags) < 0
        || has(block_tags, name, F_BLOCK, &t->flags) < 0
        || has(table_tags, name, F_TABLE, &t->flags) < 0)
        goto fail;
    if (PyUnicode_CompareWithASCIIString(name, "a") == 0)
        t->flags |= F_LINK;
    if (PyUnicode_CompareWithASCIIString(name, "br") == 0
        || PyUnicode_CompareWithASCIIString(name, "hr") == 0)
        t->flags |= F_VOID;
    /* _ANCESTOR_LABELS.get(tag) or node[2]: a falsy label defers */
    v = PyDict_GetItemWithError(ancestor_labels, name);
    if (v == NULL && PyErr_Occurred())
        goto fail;
    if (v != NULL) {
        if ((r = PyObject_IsTrue(v)) < 0)
            goto fail;
        if (r) {
            Py_INCREF(v);
            t->forced = v;
        }
    }
    v = PyDict_GetItemWithError(cdata_strict, name);
    if (v == NULL && PyErr_Occurred())
        goto fail;
    if (v != NULL && (t->cdata = PyObject_GetAttrString(v, "search")) == NULL)
        goto fail;
    return 0;
fail:
    tag_clear(t);
    return -1;
}

/* The table's Tag of the lowercased ASCII name buf[0:len], added if
   new. NULL with no exception when the table is full. */
static Tag *
tag_lookup(const char *buf, Py_ssize_t len)
{
    uint32_t h = 2166136261u;
    size_t s;
    PyObject *name;
    int e;

    for (Py_ssize_t k = 0; k < len; k++)
        h = (h ^ (unsigned char)buf[k]) * 16777619u;
    for (s = h & (SLOTS - 1); slots[s]; s = (s + 1) & (SLOTS - 1)) {
        e = slots[s] - 1;
        if (table_len[e] == len && memcmp(table_key[e], buf, len) == 0)
            return &table[e];
    }
    if (n_table == TAG_CAP)
        return NULL;
    if ((name = PyUnicode_FromStringAndSize(buf, len)) == NULL)
        return NULL;
    PyUnicode_InternInPlace(&name);
    e = tag_fill(&table[n_table], name);
    Py_DECREF(name);
    if (e < 0)
        return NULL;
    table[n_table].idx = n_table;
    memcpy(table_key[n_table], buf, len);
    table_len[n_table] = len;
    slots[s] = (short)(n_table + 1);
    return &table[n_table++];
}

/* The Tag of a lowercased name: the table's when the name is short
   ASCII and the table has room, else *tmp, which the caller clears. So
   whether a name is in the table depends on the lowercased name only
   ('<a\u212a>' lowercases to 'ak'). */
static Tag *
tag_of_lower(PyObject *low, Tag *tmp)
{
    Py_ssize_t len = PyUnicode_GET_LENGTH(low);

    if (PyUnicode_IS_ASCII(low) && len <= TAG_LEN) {
        Tag *t = tag_lookup((const char *)PyUnicode_1BYTE_DATA(low), len);
        if (t != NULL || PyErr_Occurred())
            return t;
    }
    return tag_fill(tmp, low) < 0 ? NULL : tmp;
}

/* The Tag of a tag name as written (name.lower()'s). */
static Tag *
tag_of_str(PyObject *name, Tag *tmp)
{
    Py_ssize_t len = PyUnicode_GET_LENGTH(name);
    PyObject *low;
    Tag *t;

    if (PyUnicode_IS_ASCII(name) && len <= TAG_LEN) {
        /* the common case: lowercase into a buffer, build no string */
        const Py_UCS1 *s = PyUnicode_1BYTE_DATA(name);
        char buf[TAG_LEN];

        for (Py_ssize_t k = 0; k < len; k++)
            buf[k] = s[k] >= 'A' && s[k] <= 'Z' ? s[k] + 32 : s[k];
        if ((t = tag_lookup(buf, len)) != NULL || PyErr_Occurred())
            return t;
    }
    if ((low = PyObject_CallMethod(name, "lower", NULL)) == NULL)
        return NULL;
    t = tag_of_lower(low, tmp);
    Py_DECREF(low);
    return t;
}

/* The Tag of the tag name text[a:b], which the hand matcher took: its
   characters are ASCII. */
static Tag *
tag_of_span(Walk *w, Py_ssize_t a, Py_ssize_t b, Tag *tmp)
{
    PyObject *name;
    Tag *t;

    if (b - a <= TAG_LEN) {
        char buf[TAG_LEN];

        for (Py_ssize_t k = a; k < b; k++) {
            Py_UCS4 c = PyUnicode_READ(w->kind, w->data, k);
            buf[k - a] = (char)(c >= 'A' && c <= 'Z' ? c + 32 : c);
        }
        if ((t = tag_lookup(buf, b - a)) != NULL || PyErr_Occurred())
            return t;
    }
    if ((name = PyUnicode_Substring(w->text, a, b)) == NULL)
        return NULL;
    t = tag_of_str(name, tmp);
    Py_DECREF(name);
    return t;
}

/* Untrack tuple t when none of its items is tracked, as the collector
   itself would: it cannot be part of a cycle. The node chain of a
   deeply nested page then costs the collector nothing. */
static void
maybe_untrack(PyObject *t)
{
    for (Py_ssize_t k = PyTuple_GET_SIZE(t); k--;)
        if (PyObject_GC_IsTracked(PyTuple_GET_ITEM(t, k)))
            return;
    PyObject_GC_UnTrack(t);
}

/* len(" ".join(s.split())) */
static Py_ssize_t
norm_len(PyObject *s)
{
    PyObject *words = PyUnicode_Split(s, NULL, -1);
    Py_ssize_t nw, len;

    if (words == NULL)
        return -1;
    nw = PyList_GET_SIZE(words);
    len = nw ? nw - 1 : 0;
    for (Py_ssize_t k = 0; k < nw; k++)
        len += PyUnicode_GET_LENGTH(PyList_GET_ITEM(words, k));
    Py_DECREF(words);
    return len;
}

/* extractor._flush: close the block, recording it if it has words. */
static int
flush(Walk *w)
{
    Py_ssize_t np = PyList_GET_SIZE(w->pieces), nw, nc, nl;
    PyObject *raw, *words, *text, *rec;
    int rc = -1;

    if (np == 1) {
        raw = PyList_GET_ITEM(w->pieces, 0);
        Py_INCREF(raw);
    }
    else if ((raw = PyUnicode_Join(empty_str, w->pieces)) == NULL)
        return -1;
    words = PyUnicode_Split(raw, NULL, -1);
    Py_DECREF(raw);
    if (words == NULL)
        return -1;
    nw = PyList_GET_SIZE(words);
    if (nw) {
        if ((text = PyUnicode_Join(space_str, words)) == NULL)
            goto done;
        if ((rec = PyTuple_New(5)) == NULL) {
            Py_DECREF(text);
            goto done;
        }
        nc = PyUnicode_GET_LENGTH(text);
        nl = w->link_chars < nc ? w->link_chars : nc;
        PyTuple_SET_ITEM(rec, 0, text);
        PyTuple_SET_ITEM(rec, 1, PyLong_FromSsize_t(nw));
        PyTuple_SET_ITEM(rec, 2, PyLong_FromSsize_t(nl));
        PyTuple_SET_ITEM(rec, 3, PyFloat_FromDouble((double)nl / (double)nc));
        Py_INCREF(w->block_node);
        PyTuple_SET_ITEM(rec, 4, w->block_node);
        if (PyTuple_GET_ITEM(rec, 1) == NULL || PyTuple_GET_ITEM(rec, 2) == NULL
            || PyTuple_GET_ITEM(rec, 3) == NULL
            || PyList_Append(w->records, rec) < 0) {
            Py_DECREF(rec);
            goto done;
        }
        maybe_untrack(rec);
        Py_DECREF(rec);
    }
    rc = PyList_SetSlice(w->pieces, 0, np, NULL);
    w->link_chars = 0;
done:
    Py_DECREF(words);
    return rc;
}

/* One piece of data (a reference is taken): kept unless empty or
   inside a skipped subtree. */
static int
add_data(Walk *w, PyObject *data)
{
    Py_ssize_t k;

    if (PyUnicode_GET_LENGTH(data) == 0 || w->skip_depth)
        return 0;
    if (PyList_GET_SIZE(w->pieces) == 0)
        Py_SETREF(w->block_node, Py_NewRef(w->node));
    if (PyList_Append(w->pieces, data) < 0)
        return -1;
    if (w->link_depth) {
        if ((k = norm_len(data)) < 0)
            return -1;
        w->link_chars += k;
    }
    return 0;
}

/* The data text[a:b]. It is unescaped when it holds '&', inside a
   skipped subtree too, as HTMLParser's charref conversion does. */
static int
add_span(Walk *w, Py_ssize_t a, Py_ssize_t b)
{
    Py_ssize_t amp;
    PyObject *s, *u;
    int rc;

    if (a >= b)
        return 0;
    if ((amp = PyUnicode_FindChar(w->text, '&', a, b, 1)) == -2)
        return -1;
    if (amp < 0 && w->skip_depth)
        return 0;
    if ((s = PyUnicode_Substring(w->text, a, b)) == NULL)
        return -1;
    if (amp >= 0) {
        u = PyObject_CallOneArg(unescape, s);
        Py_DECREF(s);
        if ((s = u) == NULL)
            return -1;
    }
    rc = add_data(w, s);
    Py_DECREF(s);
    return rc;
}

static int
open_count_other(Walk *w, PyObject *name, Py_ssize_t delta, Py_ssize_t *now)
{
    PyObject *v;
    Py_ssize_t c = 0;
    int rc;

    if (w->other_counts == NULL && (w->other_counts = PyDict_New()) == NULL)
        return -1;
    v = PyDict_GetItemWithError(w->other_counts, name);
    if (v == NULL && PyErr_Occurred())
        return -1;
    if (v != NULL && (c = PyLong_AsSsize_t(v)) == -1 && PyErr_Occurred())
        return -1;
    c += delta;
    if (now)
        *now = c;
    if (!delta)
        return 0;
    if ((v = PyLong_FromSsize_t(c)) == NULL)
        return -1;
    rc = PyDict_SetItem(w->other_counts, name, v);
    Py_DECREF(v);
    return rc;
}

/* Open tag t: a new node (tag, parent, forced, in_table, depth). */
static int
push(Walk *w, Tag *t)
{
    PyObject *parent = w->node, *node, *in_table, *depth;
    Py_ssize_t d;
    int truth;

    if (w->depth == w->cap) {
        Py_ssize_t cap = w->cap ? 2 * w->cap : 64;
        int *lv = PyMem_Realloc(w->levels, cap * sizeof(int));
        if (lv == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        w->levels = lv;
        w->cap = cap;
    }
    in_table = PyTuple_GET_ITEM(parent, 3);
    if ((truth = PyObject_IsTrue(in_table)) < 0)
        return -1;
    if (!truth)
        in_table = t->flags & F_TABLE ? Py_True : Py_False;
    d = PyLong_AsSsize_t(PyTuple_GET_ITEM(parent, 4));
    if (d == -1 && PyErr_Occurred())
        return -1;
    if ((depth = PyLong_FromSsize_t(d + 1)) == NULL)
        return -1;
    if ((node = PyTuple_New(5)) == NULL) {
        Py_DECREF(depth);
        return -1;
    }
    if (t->idx >= 0)
        w->counts[t->idx]++;
    else if (open_count_other(w, t->name, 1, NULL) < 0) {
        Py_DECREF(node);
        Py_DECREF(depth);
        return -1;
    }
    PyTuple_SET_ITEM(node, 0, Py_NewRef(t->name));
    PyTuple_SET_ITEM(node, 1, parent); /* w->node's reference */
    PyTuple_SET_ITEM(node, 2,
                     Py_NewRef(t->forced ? t->forced : PyTuple_GET_ITEM(parent, 2)));
    PyTuple_SET_ITEM(node, 3, Py_NewRef(in_table));
    PyTuple_SET_ITEM(node, 4, depth);
    maybe_untrack(node);
    w->node = node;
    w->levels[w->depth++] = t->idx;
    return 0;
}

/* Close tag t: pop to the nearest open t, if one is open. */
static int
pop_to(Walk *w, Tag *t)
{
    Py_ssize_t open;

    if (t->idx >= 0)
        open = w->counts[t->idx];
    else if (open_count_other(w, t->name, 0, &open) < 0)
        return -1;
    while (open) {
        PyObject *node = w->node, *top = PyTuple_GET_ITEM(node, 0);
        int lv = w->levels[--w->depth], hit;

        if (lv >= 0) {
            w->counts[lv]--;
            hit = lv == t->idx;
        }
        else {
            if (open_count_other(w, top, -1, NULL) < 0)
                return -1;
            hit = t->idx < 0 ? PyObject_RichCompareBool(top, t->name, Py_EQ) : 0;
            if (hit < 0)
                return -1;
        }
        w->node = Py_NewRef(PyTuple_GET_ITEM(node, 1));
        Py_DECREF(node);
        if (hit)
            break;
    }
    return 0;
}

static int
end_tag(Walk *w, Tag *t)
{
    if (t->flags & F_SKIP) {
        if (w->skip_depth)
            w->skip_depth--;
        return 0;
    }
    if (t->flags & F_LINK && w->link_depth)
        w->link_depth--;
    if (pop_to(w, t) < 0)
        return -1;
    if (PyList_GET_SIZE(w->pieces) && t->flags & F_BLOCK)
        return flush(w);
    return 0;
}

/* 1 when a script/style is never strictly closed: the rest is its raw
   data, and the walk ends. Otherwise *i resumes at the strict close. */
static int
start_tag(Walk *w, Tag *t, int selfclose, Py_ssize_t *i)
{
    if (selfclose) {
        if (t->flags & F_VOID)
            return PyList_Append(w->pieces, space_str);
        return 0;
    }
    if (t->flags & F_SKIP) {
        PyObject *mc, *start;

        w->skip_depth++;
        if (t->cdata == NULL)
            return 0;
        if ((mc = PyObject_CallFunction(t->cdata, "On", w->text, *i)) == NULL)
            return -1;
        if (mc == Py_None) {
            Py_DECREF(mc);
            return 1;
        }
        start = PyObject_CallMethod(mc, "start", NULL);
        Py_DECREF(mc);
        if (start == NULL)
            return -1;
        *i = PyLong_AsSsize_t(start);
        Py_DECREF(start);
        return *i == -1 && PyErr_Occurred() ? -1 : 0;
    }
    if (t->flags & F_LINK)
        w->link_depth++;
    if (!(t->flags & F_VOID) && push(w, t) < 0)
        return -1;
    if (PyList_GET_SIZE(w->pieces) && t->flags & F_BLOCK)
        return flush(w);
    return 0;
}

static inline int
is_space(Py_UCS4 c)
{
    return Py_UNICODE_ISSPACE(c);
}

static inline int
is_alpha(Py_UCS4 c)
{
    return (c | 32) >= 'a' && (c | 32) <= 'z';
}

/* [-.a-zA-Z0-9:_] */
static inline int
is_name(Py_UCS4 c)
{
    return is_alpha(c) || (c >= '0' && c <= '9') || c == '-' || c == '.'
           || c == ':' || c == '_';
}

/* [^\s/>=\"'<] */
static inline int
is_attr(Py_UCS4 c)
{
    return c != END_CH && !is_space(c) && c != '/' && c != '>'
           && c != '=' && c != '"' && c != '\'' && c != '<';
}

/* [^\s>\"'`=<] */
static inline int
is_value(Py_UCS4 c)
{
    return c != END_CH && !is_space(c) && c != '>' && c != '"'
           && c != '\'' && c != '`' && c != '=' && c != '<';
}

static inline Py_UCS4
at(int kind, const void *data, Py_ssize_t n, Py_ssize_t k)
{
    return k < n ? PyUnicode_READ(kind, data, k) : END_CH;
}

#define AT(k) at(kind, data, n, (k))
#define SKIP_SPACE(k) while (is_space(AT(k))) (k)++

/* The construct at text[lt] == '<' as _TOKEN matches it: 1 when taken
   (tk filled), 0 when declined, -1 on error. */
static int
match(Walk *w, Py_ssize_t lt, Token *tk)
{
    const int kind = w->kind;
    const void *data = w->data;
    const Py_ssize_t n = w->n;
    Py_ssize_t p, q;
    Py_UCS4 c = AT(lt + 1), d;

    if (c == '/') { /* /\s*(name)\s*> */
        p = lt + 2;
        SKIP_SPACE(p);
        if (!is_alpha(AT(p)))
            return 0;
        tk->a = p++;
        while (is_name(AT(p)))
            p++;
        tk->b = p;
        SKIP_SPACE(p);
        if (AT(p) != '>')
            return 0;
        tk->kind = T_END;
        tk->end = p + 1;
        return 1;
    }
    if (is_alpha(c)) {
        /* (name)(?=[\t\n\r\f />])(?:\s+attr(?:\s*=\s*value)?)*\s*(/?)> */
        tk->a = lt + 1;
        p = lt + 2;
        while (is_name(AT(p)))
            p++;
        tk->b = p;
        c = AT(p);
        if (c != '\t' && c != '\n' && c != '\r' && c != '\f' && c != ' '
            && c != '/' && c != '>')
            return 0;
        for (;;) {
            q = p;
            SKIP_SPACE(q);
            if (q == p || !is_attr(AT(q)))
                break;
            while (is_attr(AT(q)))
                q++;
            p = q; /* past the attribute name; then the optional value */
            SKIP_SPACE(q);
            if (AT(q) != '=')
                continue;
            q++;
            SKIP_SPACE(q);
            c = AT(q);
            if (c == '"' || c == '\'') {
                do
                    d = AT(q += 1);
                while (d != c && d != '<' && d != '>' && d != END_CH);
                if (d == c)
                    p = q + 1;
            }
            else if (is_value(c)) {
                while (is_value(AT(q)))
                    q++;
                p = q;
            }
        }
        SKIP_SPACE(p);
        tk->selfclose = AT(p) == '/';
        p += tk->selfclose;
        if (AT(p) != '>')
            return 0;
        tk->kind = T_START;
        tk->end = p + 1;
        return 1;
    }
    if (c == '!') {
        if (AT(lt + 2) == '-' && AT(lt + 3) == '-') { /* !--.*?--\s*> */
            for (p = lt + 4;; p++) {
                if ((p = PyUnicode_Find(w->text, comment_close, p, n, 1)) < 0)
                    return p == -2 ? -1 : 0;
                q = p + 2;
                SKIP_SPACE(q);
                if (AT(q) == '>')
                    break;
            }
            tk->end = q + 1;
        }
        else if (AT(lt + 2) == '[')
            return 0;
        else { /* !(?!--|\[)[^>]*+> */
            p = PyUnicode_FindChar(w->text, '>', lt + 2, n, 1);
            if (p < 0)
                return p == -2 ? -1 : 0;
            tk->end = p + 1;
        }
        tk->kind = T_OTHER;
        return 1;
    }
    return 0;
}

/* A tag from _TOKEN or _tolerant_token: an end tag when is_end. */
static int
tag_from_str(Walk *w, PyObject *name, int is_end, int selfclose, Py_ssize_t *i)
{
    Tag tmp, *t = tag_of_str(name, &tmp);
    int r;

    if (t == NULL)
        return -1;
    r = is_end ? end_tag(w, t) : start_tag(w, t, selfclose, i);
    if (t == &tmp)
        tag_clear(&tmp);
    return r;
}

/* A construct the hand matcher declined, at the first '<' (lt) after
   the data start i: _TOKEN.match, then _tolerant_token. Returns as
   start_tag, with *i the resume index. */
static int
slow_token(Walk *w, Py_ssize_t lt, Py_ssize_t *i)
{
    PyObject *res, *groups, *name, *end, *sc;
    int is_end, selfclose, r = -1;

    if ((res = PyObject_CallFunction(token_match, "On", w->text, *i)) == NULL)
        return -1;
    if (res != Py_None) {
        /* its data group is text[i:lt] */
        groups = PyObject_CallMethod(res, "groups", NULL);
        end = PyObject_CallMethod(res, "end", NULL);
        Py_DECREF(res);
        if (groups == NULL || end == NULL || add_span(w, *i, lt) < 0)
            goto done_m;
        if ((*i = PyLong_AsSsize_t(end)) == -1 && PyErr_Occurred())
            goto done_m;
        name = PyTuple_GET_ITEM(groups, 1);
        is_end = name != Py_None;
        if (!is_end)
            name = PyTuple_GET_ITEM(groups, 2);
        sc = PyTuple_GET_ITEM(groups, 3);
        r = 0;
        if (name != Py_None) {
            if ((selfclose = sc == Py_None ? 0 : PyObject_IsTrue(sc)) < 0)
                r = -1;
            else
                r = tag_from_str(w, name, is_end, selfclose, i);
        }
    done_m:
        Py_XDECREF(groups);
        Py_XDECREF(end);
        return r;
    }
    Py_DECREF(res);
    if (lt > *i) { /* the data before the construct */
        r = add_span(w, *i, lt);
        *i = lt;
        return r;
    }
    res = PyObject_CallFunction(tolerant_token, "On", w->text, *i);
    if (res == NULL)
        return -1;
    if (!PyTuple_Check(res) || PyTuple_GET_SIZE(res) != 5) {
        PyErr_SetString(PyExc_TypeError, "_tolerant_token: expected a 5-tuple");
        goto done_t;
    }
    if (add_data(w, PyTuple_GET_ITEM(res, 0)) < 0)
        goto done_t;
    *i = PyLong_AsSsize_t(PyTuple_GET_ITEM(res, 4));
    if (*i == -1 && PyErr_Occurred())
        goto done_t;
    name = PyTuple_GET_ITEM(res, 1);
    is_end = name != Py_None;
    if (!is_end)
        name = PyTuple_GET_ITEM(res, 2);
    r = 0;
    if (name != Py_None) {
        if ((selfclose = PyObject_IsTrue(PyTuple_GET_ITEM(res, 3))) < 0)
            r = -1;
        else
            r = tag_from_str(w, name, is_end, selfclose, i);
    }
done_t:
    Py_DECREF(res);
    return r;
}

/* The token loop: 0 when the text is walked, -1 on an exception. */
static int
run(Walk *w)
{
    Py_ssize_t i = 0, lt;
    Token tk;
    Tag tmp, *t;
    int r;

    while (i < w->n) {
        if ((lt = PyUnicode_FindChar(w->text, '<', i, w->n, 1)) == -2)
            return -1;
        if (lt < 0) /* data to the end */
            return add_span(w, i, w->n);
        if ((r = match(w, lt, &tk)) < 0)
            return -1;
        if (r == 0)
            r = slow_token(w, lt, &i);
        else {
            if (add_span(w, i, lt) < 0)
                return -1;
            i = tk.end;
            if (tk.kind == T_OTHER)
                continue;
            if ((t = tag_of_span(w, tk.a, tk.b, &tmp)) == NULL)
                return -1;
            r = tk.kind == T_END ? end_tag(w, t) : start_tag(w, t, tk.selfclose, &i);
            if (t == &tmp)
                tag_clear(&tmp);
        }
        if (r)
            return r < 0 ? -1 : 0; /* 1: a script/style runs to the end */
    }
    return 0;
}

/* 'salvaged:<type(exc).__name__>' for the pending exception, which is
   cleared. */
static PyObject *
salvage_flag(void)
{
    PyObject *type, *value, *tb, *name, *flag = NULL;

    PyErr_Fetch(&type, &value, &tb);
    PyErr_NormalizeException(&type, &value, &tb);
    name = PyObject_GetAttrString(value ? (PyObject *)Py_TYPE(value) : type,
                                  "__name__");
    if (name != NULL) {
        flag = PyUnicode_FromFormat("salvaged:%S", name);
        Py_DECREF(name);
    }
    Py_XDECREF(type);
    Py_XDECREF(value);
    Py_XDECREF(tb);
    return flag;
}

static PyObject *
walk(PyObject *module, PyObject *text)
{
    Walk *w;
    PyObject *salvage = NULL, *result = NULL;

    if (!PyUnicode_Check(text)) {
        PyErr_SetString(PyExc_TypeError, "walk() needs a str");
        return NULL;
    }
    if (root == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "walk() before configure()");
        return NULL;
    }
    if (PyUnicode_READY(text) < 0)
        return NULL;
    if ((w = PyMem_Calloc(1, sizeof *w)) == NULL)
        return PyErr_NoMemory();
    w->text = text;
    w->kind = PyUnicode_KIND(text);
    w->data = PyUnicode_DATA(text);
    w->n = PyUnicode_GET_LENGTH(text);
    w->node = Py_NewRef(root);
    w->block_node = Py_NewRef(root);
    if ((w->records = PyList_New(0)) == NULL || (w->pieces = PyList_New(0)) == NULL)
        goto done;
    if (run(w) < 0) {
        if (!PyErr_ExceptionMatches(PyExc_Exception))
            goto done;
        if ((salvage = salvage_flag()) == NULL)
            goto done;
    }
    if (PyList_GET_SIZE(w->pieces) && flush(w) < 0)
        goto done;
    result = PyTuple_Pack(2, w->records, salvage ? salvage : Py_None);
done:
    Py_XDECREF(salvage);
    Py_XDECREF(w->records);
    Py_XDECREF(w->pieces);
    Py_XDECREF(w->node);
    Py_XDECREF(w->block_node);
    Py_XDECREF(w->other_counts);
    PyMem_Free(w->levels);
    PyMem_Free(w);
    return result;
}

static PyObject *
configure(PyObject *module, PyObject *args)
{
    PyObject *a[9];

    if (!PyArg_ParseTuple(args, "OOO!OO!OOOO!:configure", &a[0], &a[1],
                          &PyDict_Type, &a[2], &a[3], &PyDict_Type, &a[4],
                          &a[5], &a[6], &a[7], &PyTuple_Type, &a[8]))
        return NULL;
    if (PyTuple_GET_SIZE(a[8]) != 5) {
        PyErr_SetString(PyExc_ValueError, "configure(): root must be a 5-tuple");
        return NULL;
    }
    Py_XSETREF(skip_tags, Py_NewRef(a[0]));
    Py_XSETREF(block_tags, Py_NewRef(a[1]));
    Py_XSETREF(ancestor_labels, Py_NewRef(a[2]));
    Py_XSETREF(table_tags, Py_NewRef(a[3]));
    Py_XSETREF(cdata_strict, Py_NewRef(a[4]));
    Py_XSETREF(token_match, Py_NewRef(a[5]));
    Py_XSETREF(tolerant_token, Py_NewRef(a[6]));
    Py_XSETREF(unescape, Py_NewRef(a[7]));
    Py_XSETREF(root, Py_NewRef(a[8]));
    maybe_untrack(root);
    for (int k = 0; k < n_table; k++)
        tag_clear(&table[k]);
    n_table = 0;
    memset(slots, 0, sizeof slots);
    Py_RETURN_NONE;
}

static PyMethodDef methods[] = {
    {"configure", configure, METH_VARARGS,
     "configure(skip_tags, block_tags, ancestor_labels, table_tags, "
     "cdata_strict, token_match, tolerant_token, unescape, root)\n"
     "Hand the walk extractor's vocabularies and tokenizers."},
    {"walk", walk, METH_O,
     "walk(text) -> (records, salvage), as extractor._stdlib_walk."},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef module = {
    PyModuleDef_HEAD_INIT, "_walk", "The compiled block walk.", -1, methods,
    NULL, NULL, NULL, NULL,
};

PyMODINIT_FUNC
PyInit__walk(void)
{
    if (empty_str == NULL) {
        empty_str = PyUnicode_FromString("");
        space_str = PyUnicode_FromString(" ");
        comment_close = PyUnicode_FromString("--");
        if (empty_str == NULL || space_str == NULL || comment_close == NULL)
            return NULL;
    }
    return PyModule_Create(&module);
}
