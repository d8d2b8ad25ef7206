import contextlib

# Only for perfbench's import; the next benchmark change deletes this module.
scoped_caches = contextlib.nullcontext
