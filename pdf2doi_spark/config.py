"""Reference-parity runtime settings (reference ``config.py:38-57``).

The reference exposes a tiny static settings registry
(``config.get/set/update_params``) that library users tweak before calling
``pdf2doi.pdf2doi(...)``. This mirrors the surface and the default values
for every reference key. Two keys are read:

* ``replace_arxivID_by_DOI_when_available``   — default for the V4 rewrite;
* ``N_characters_in_pdf``                     — default truncation length of
  the F11 ascii scrub (reference finders.py:844-852).

The rest are accepted for drop-in compatibility but have no effect:

* the web-only keys (``method_dxdoiorg``, ``webvalidation``,
  ``websearch``, ``numb_results_google_search``): this engine is
  permanently offline — equivalent to the reference run with
  ``websearch`` and ``webvalidation`` disabled, its own gates at
  finders.py:802-804,829-831;
* ``verbose``: the extraction counters print only under ``cli.py -v``;
* ``save_identifier_metadata``: the write-back (the cache merge, the
  Spark analogue of writing into PDF metadata, reference main.py:98-100)
  is decided by ``cli.py -nostore`` and by whether a cache path is given;
  the library entry ``pdf2doi()`` never writes.
"""
from __future__ import annotations

_DEFAULTS = {
    "verbose": True,
    "method_dxdoiorg": "application/citeproc+json",  # web-only: no effect
    "webvalidation": True,                           # web-only: no effect
    "websearch": True,                               # web-only: no effect
    "numb_results_google_search": 6,                 # web-only: no effect
    "N_characters_in_pdf": 1000,
    "save_identifier_metadata": True,
    "replace_arxivID_by_DOI_when_available": True,
}


class config:
    """Static registry, same call surface as the reference class."""

    _params = dict(_DEFAULTS)

    @staticmethod
    def get(name: str):
        return config._params[name]

    @staticmethod
    def set(name: str, value) -> None:
        if name not in config._params:
            raise KeyError(name)
        config._params[name] = value

    @staticmethod
    def update_params(new_params: dict) -> None:
        config._params.update(new_params)

    @staticmethod
    def reset() -> None:
        config._params = dict(_DEFAULTS)
