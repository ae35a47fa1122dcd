"""Geo-aware transcription — the engine's in-process replacement for the
reference RPC client/daemon pair (geo_transcript.lua + geo-transcript-srv.py).

``Transcriptor.geo_transcript`` reproduces the full client+server round
trip as a pure function: bbox→centroid collapse (geo_transcript.lua:19-35),
the CJK/Thai gate (geo-transcript-srv.py:268-275), point-in-polygon
country resolution (:211-221) and country-routed transliteration
(:160-179).  ``country_transcript`` implements the INTENDED forced-cc
semantics (cc_transcript_via_daemon.sql:21-47) rather than the
reference's 3-field-frame protocol bug (divergence documented).

The boundary index comes from ``spatial.prepared.default_lookup``, the
process's one boundary cache (built once per Spark Python worker — the
executor-side analogue of the daemon's startup-time prepared-geometry
cache).
"""
from __future__ import annotations

from ..spatial.boundaries import BoundaryIndex
from ..spatial.prepared import default_lookup
from .translit import gate_cc, transcript

__all__ = ["Transcriptor", "centroid", "default_transcriptor"]


def centroid(place):
    """bbox → centroid, with the reference's degenerate-input quirks
    (geo_transcript.lua:19-35): callables are invoked; anything
    without a numeric [0] (e.g. the string 'jp' passed by
    get_localized_name_from_tags.lua:383) degrades to (0, 0)."""
    if callable(place):
        place = list(place())
    try:
        return (place[0] + place[2]) / 2.0, (place[1] + place[3]) / 2.0
    except (TypeError, IndexError, KeyError):
        return 0.0, 0.0


class Transcriptor:
    def __init__(self, index: BoundaryIndex):
        self.index = index

    def geo_transcript(self, rec_id: str, name: str, place=None) -> str:
        if name == "":
            return ""
        try:
            if place is None:
                cc = ""
            else:
                lon, lat = centroid(place)
                cc = gate_cc(name, lambda: self.index.lookup_one(lon, lat))
            return transcript(rec_id, cc, name)
        except Exception:
            return ""

    def country_transcript(self, rec_id: str, name: str, cc: str | None = None) -> str:
        if name == "":
            return ""
        return transcript(rec_id, cc or "", name)


def default_transcriptor() -> Transcriptor:
    return Transcriptor(default_lookup().index)
