"""From-scratch image, audio and video codecs and the Spark media operators
built on them, kept apart from the KML→NDVI engine.

The engine package (``azure_workflow_for_kml_satellite_spark``) never
imports this one, and no query in ``__spark_entry__.py`` uses it. What it
holds:

- codecs: H.264 with CAVLC and CABAC, MP3, Vorbis, FLAC, the PCM family,
  JPEG, GIF, VP8, VP8L, the web-image containers (``webimage``) and a
  general PNG decoder (``png_any``);
- ``multimodal``: Spark operators that demux and decode media payload
  columns (image metadata and thumbnails, audio metadata, sampled video
  frames);
- ``synth_media`` and ``oracle``: the seeded synthetic assets and an
  independent scalar oracle for those operators.

Its tests are ``tests/test_{h264,cabac,mp3,vorbis,flac,pcm_codecs,vp8,vp8l,
webimage_codecs,external_differentials}.py`` plus the media sections of
``test_new_ops.py`` and ``test_property_fuzz.py``.
"""
