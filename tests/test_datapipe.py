"""Datapipe operator tests beyond oracle parity: planted near-duplicates are
found, LSH approximations recall the exact answers, multimodal plumbing
preserves row counts and schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oni_ml_spark.datapipe.dedup import (
    drop_exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash64,
)
from oni_ml_spark.datapipe.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the park"
    rows = [
        (0, base),
        (1, base),                                  # exact dup of 0
        (2, base.replace("park", "yard")),          # near dup of 0
        (3, "completely different text about spark query engines and shuffles"),
        (4, "another unrelated document mentioning entropy and quantiles only"),
        (5, "THE  Quick   Brown fox jumps over the lazy dog again and again in the park"),  # normalizes to dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_dedup_normalizes(self, docs):
        kept = sorted(r["doc_id"] for r in drop_exact_duplicates(docs, "doc_id", "text").collect())
        # 0,1,5 collapse (case/whitespace-insensitive); survivors keep min id
        assert kept == [0, 2, 3, 4]

    def test_ngram_jaccard_finds_near_dups(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        assert pairs[(0, 1)] == 1.0
        assert pairs[(0, 5)] == 1.0
        assert 0.5 <= pairs[(0, 2)] < 1.0
        assert (0, 3) not in pairs

    def test_lsh_candidates_cover_true_pairs(self, docs):
        cand = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
        }
        assert {(0, 1), (0, 5), (1, 5)} <= cand
        assert (3, 4) not in cand

    def test_simhash_near_for_near_dups(self, docs):
        fps = {r["id"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
        ham = lambda a, b: bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")  # noqa: E731
        assert ham(0, 1) == 0
        assert ham(0, 2) <= 12        # near-dup: small Hamming distance
        assert ham(0, 3) > 12         # unrelated: far


class TestSimilarity:
    def test_lsh_recalls_exact_topk_on_clustered_data(self, spark):
        """SRP-LSH recall on clustered vectors (its actual use case): a
        query's near-identical neighbors project to the same side of every
        hyperplane with high probability. Uniform random embeddings are not
        used — sharing all plane signs with an unrelated random vector is
        ~2^-planes by construction, so recall there is meaningless."""
        rows = []
        for vid in range(40):
            c, m = vid // 10, vid % 10
            v = [0.0] * 8
            v[2 * c] = 1.0
            v[(2 * c + 1) % 8] = 0.05 * (m + 1)
            rows.append((vid, v))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter(F.col("vec_id").isin(0, 10, 20, 30))
        exact = brute_force_topk(q, emb, k=3).collect()
        approx = lsh_bucketed_topk(q, emb, k=3, planes=3, dim=8).collect()
        exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
        got = {}
        for r in approx:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(1 for qid, nid in exact_top1.items() if nid in got.get(qid, set()))
        assert hits >= 3  # same-cluster vectors share buckets w.h.p.

    def test_lsh_buckets_are_diverse(self, spark):
        """Regression for the degenerate-hyperplane bug: 8 planes must
        produce many distinct buckets, not 2."""
        from oni_ml_spark.datapipe.similarity import _hyperplanes, srp_bucket

        hp = _hyperplanes(64, 8, seed=7)
        assert len({tuple(p) for p in hp}) == 8  # planes distinct
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        from oni_ml_spark.datapipe.similarity import as_double_array

        n_buckets = (
            emb.select(srp_bucket(as_double_array("embedding"), hp).alias("b"))
            .distinct()
            .count()
        )
        assert n_buckets > 32  # 500 random 64-dim vectors over 256 buckets

    def test_embedding_near_dups_symmetric_and_thresholded(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        pairs = embedding_near_duplicates(emb, threshold=0.9).collect()
        for r in pairs:
            assert r["id_a"] < r["id_b"]
            assert r["sim"] >= 0.9


class TestMultimodal:
    def test_metadata_schema_and_counts(self, spark, docs):
        from oni_ml_spark.datapipe.multimodal import (
            attach_payload,
            extract_media_metadata,
            sample_frames,
        )

        media = attach_payload(docs, "doc_id", "text")
        meta = extract_media_metadata(media)
        rows = meta.collect()
        assert len(rows) == docs.count()
        assert set(meta.columns) == {
            "media_id", "n_bytes", "format", "width", "height",
            "sample_rate", "channels", "duration_ms",
        }
        byid = {r["media_id"]: r for r in rows}
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        for i, t in texts.items():
            assert byid[i]["n_bytes"] == len(t.encode())

        frames = sample_frames(media, every_n_bytes=16)
        n16 = frames.groupBy("media_id").count().collect()
        for r in n16:
            assert r["count"] == max(len(texts[r["media_id"]].encode()) // 16, 1)

    def test_decoder_seam_swaps_without_plan_changes(self, spark, docs):
        """(r10) the decode stage's public seam: a 'real' decoder (here a
        fake header parser that reads dimensions out of the byte content,
        standing in for PIL) injects through the ``decoder`` argument and
        the plumbing — schema, batching, row coverage — is untouched.
        Proves the pipeline depends on the seam's contract, not on
        decode_image_stub internals."""
        from oni_ml_spark.datapipe.multimodal import (
            MEDIA_META_SCHEMA,
            attach_payload,
            extract_media_metadata,
        )

        def fake_real_decoder(payload: bytes) -> dict:
            # stands in for a PIL header parse: 'dimensions' come from the
            # first and last payload bytes — unlike the stub's
            # length-derived fakes, so the test can tell which decoder ran.
            # Nested on purpose: cloudpickle serializes it by VALUE into
            # the mapInPandas closure (a test-module-level function would
            # be pickled by reference and fail to import on executors)
            return {
                "n_bytes": len(payload),
                "format": "img/hdr",
                "width": int(payload[0]) if payload else 0,
                "height": int(payload[-1]) if payload else 0,
            }

        media = attach_payload(docs, "doc_id", "text")
        out = extract_media_metadata(media, decoder=fake_real_decoder)
        assert out.schema == MEDIA_META_SCHEMA  # schema pinned by the seam
        rows = {r["media_id"]: r for r in out.collect()}
        assert len(rows) == docs.count()  # every row decoded
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        for i, t in texts.items():
            b = t.encode()
            assert rows[i]["format"] == "img/hdr"  # the INJECTED decoder ran
            assert rows[i]["n_bytes"] == len(b)
            assert rows[i]["width"] == b[0] if b else rows[i]["width"] == 0
            assert rows[i]["height"] == (b[-1] if b else 0)

    def test_parse_image_header_goldens(self):
        """(r11) the pure-Python header parser: byte-exact goldens for the
        four supported formats, plus rejection of truncated / alien
        payloads (which must fall back to the stub in the default
        decoder).  No Spark session — this is plain struct arithmetic."""
        from oni_ml_spark.datapipe.multimodal import (
            decode_image_header,
            decode_image_stub,
            parse_image_header,
        )
        from tests.media_fixtures import planted_image_headers

        planted = dict(planted_image_headers())
        want = {
            -1: ("png", 640, 360, 29),
            -2: ("gif", 320, 200, 13),
            -3: ("jpeg", 1024, 768, 41),
            -4: ("bmp", 64, 48, 26),
            -5: ("webp", 480, 320, 30),
        }
        for mid, (fmt, w, h, n) in want.items():
            got = parse_image_header(planted[mid])
            assert got == {"n_bytes": n, "format": fmt, "width": w, "height": h}
            # the default decoder routes recognized magics to the parser
            assert decode_image_header(planted[mid]) == got

        # truncated PNG (magic only, no IHDR), truncated JPEG (SOI only),
        # and a text payload: parser refuses, default decoder falls back
        # to the deterministic stub
        for bad in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"hello world", b""):
            assert parse_image_header(bad) is None
            assert decode_image_header(bad) == decode_image_stub(bad)

        # JPEG whose SOF sits behind restart/standalone markers still parses
        jpeg2 = (
            b"\xff\xd8\xff\x01"
            + b"\xff\xc2" + (17).to_bytes(2, "big") + b"\x08"
            + (2).to_bytes(2, "big") + (3).to_bytes(2, "big")
            + b"\x03" + b"\x00" * 9
        )
        got = parse_image_header(jpeg2)
        assert (got["format"], got["width"], got["height"]) == ("jpeg", 3, 2)
        # (r12, ADVICE) SOS before any SOF: a malformed/truncated JPEG must
        # refuse, not keep walking into entropy-coded scan data where a
        # fake SOF byte pattern would parse as confident garbage dims
        jpeg_sos_first = (
            b"\xff\xd8"
            + b"\xff\xda" + (12).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
            # scan bytes that LOOK like a SOF0 declaring 77x99
            + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (99).to_bytes(2, "big") + (77).to_bytes(2, "big")
            + b"\x03" + b"\x00" * 9
        )
        assert parse_image_header(jpeg_sos_first) is None
        # top-down BMP (negative height) reports positive dimensions
        bmp_td = (
            b"BM" + (26).to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + (26).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + (64).to_bytes(4, "little", signed=True)
            + (-48).to_bytes(4, "little", signed=True)
        )
        got = parse_image_header(bmp_td)
        assert (got["width"], got["height"]) == (64, 48)

    def test_parse_webp_variants_and_refusals(self):
        """(r12) all three WebP container variants parse; a RIFF/WEBP whose
        bitstream lacks the mandatory start-code / signature byte refuses
        (falls back to the stub) instead of guessing dims."""
        from oni_ml_spark.datapipe.multimodal import (
            decode_image_header,
            decode_image_stub,
            parse_image_header,
        )

        def riff(fourcc: bytes, chunk: bytes) -> bytes:
            return (
                b"RIFF" + (12 + len(chunk)).to_bytes(4, "little") + b"WEBP"
                + fourcc + len(chunk).to_bytes(4, "little") + chunk
            )

        vp8 = riff(
            b"VP8 ",
            b"\x30\x01\x00\x9d\x01\x2a"
            + (480).to_bytes(2, "little") + (320).to_bytes(2, "little"),
        )
        word = (800 - 1) | ((600 - 1) << 14)
        vp8l = riff(b"VP8L", b"\x2f" + word.to_bytes(4, "little"))
        vp8x = riff(
            b"VP8X",
            b"\x00\x00\x00\x00"
            + (1920 - 1).to_bytes(3, "little") + (1080 - 1).to_bytes(3, "little"),
        )
        for payload, w, h in ((vp8, 480, 320), (vp8l, 800, 600), (vp8x, 1920, 1080)):
            got = parse_image_header(payload)
            assert got == {
                "n_bytes": len(payload), "format": "webp", "width": w, "height": h,
            }

        bad_start_code = riff(b"VP8 ", b"\x30\x01\x00XYZ\x00\x01\x00\x01")
        bad_sig = riff(b"VP8L", b"\x00" + word.to_bytes(4, "little"))
        alien_chunk = riff(b"ALPH", b"\x00" * 10)
        truncated = vp8[:18]
        for bad in (bad_start_code, bad_sig, alien_chunk, truncated):
            assert parse_image_header(bad) is None
            assert decode_image_header(bad) == decode_image_stub(bad)

    def test_parse_av_containers_goldens(self):
        """(r12) WAV and MP4 header sniffing: the planted payloads
        parse to their true sample rate / channels / duration / track
        dims; header-only MP4s (moov at file end) still classify; prose
        and corrupt RIFFs refuse."""
        from oni_ml_spark.datapipe.multimodal import (
            decode_image_stub,
            decode_media_header,
            parse_media_container,
        )
        from tests.media_fixtures import (
            planted_av_containers,
            planted_image_headers,
        )

        planted = dict(planted_av_containers())
        assert parse_media_container(planted[-6]) == {
            "n_bytes": 76, "format": "wav", "width": None, "height": None,
            "sample_rate": 8000, "channels": 1, "duration_ms": 2,
        }
        assert parse_media_container(planted[-7]) == {
            "n_bytes": 232, "format": "mp4", "width": 640, "height": 360,
            "sample_rate": None, "channels": None, "duration_ms": 5000,
        }
        # ftyp-only head (non-faststart file truncated before moov):
        # classifies as mp4, dims/duration honestly null
        ftyp_only = planted[-7][:16]
        got = parse_media_container(ftyp_only)
        assert got["format"] == "mp4"
        assert got["width"] is None and got["duration_ms"] is None
        # images flow through the container parser with null AV fields
        got = parse_media_container(dict(planted_image_headers())[-1])
        assert got["format"] == "png" and got["sample_rate"] is None
        # refusals: prose RIFF, WAV with no fmt chunk, implausible fmt
        no_fmt = b"RIFF" + (36).to_bytes(4, "little") + b"WAVE" \
            + b"data" + (8).to_bytes(4, "little") + b"\x00" * 8
        bad_fmt = b"RIFF" + (28).to_bytes(4, "little") + b"WAVE" \
            + b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little") \
            + (0).to_bytes(2, "little") + (8000).to_bytes(4, "little") \
            + (0).to_bytes(4, "little") + (2).to_bytes(2, "little") \
            + (16).to_bytes(2, "little")
        for bad in (b"RIFF raffle WAVEforms", no_fmt, bad_fmt, b"hello", b""):
            assert parse_media_container(bad) is None
            assert decode_media_header(bad) == decode_image_stub(bad)

    def test_media_triage_filter_and_duration_frames(self, spark, docs):
        """(r12) the corpus-triage trio over extract_media_metadata output:
        per-format mix table with plausibility counts, survivor filtering,
        and duration-driven frame sampling — on the planted real headers
        plus the text corpus (stub fallbacks)."""
        from oni_ml_spark.datapipe.multimodal import (
            attach_payload,
            extract_media_metadata,
            filter_media,
            media_triage,
            sample_frames_by_duration,
        )
        from tests.media_fixtures import (
            planted_av_containers,
            planted_image_headers,
        )

        media = attach_payload(docs, "doc_id", "text").unionByName(
            spark.createDataFrame(
                [
                    (i, bytearray(b))
                    for i, b in planted_image_headers() + planted_av_containers()
                ],
                "media_id long, payload binary",
            )
        )
        meta = extract_media_metadata(media).localCheckpoint()

        mix = {r["format"]: r for r in media_triage(meta).collect()}
        n_docs = docs.count()
        assert mix["fake/raw"]["n"] == n_docs
        # stub rows FABRICATE dims — they must never count as plausible
        # media no matter what the fabricated numbers look like
        assert mix["fake/raw"]["n_plausible"] == 0
        for fmt in ("png", "gif", "jpeg", "bmp", "webp", "wav", "mp4"):
            assert mix[fmt]["n"] == 1
        assert mix["png"]["n_plausible"] == 1      # 640x360: sane
        assert mix["wav"]["n_plausible"] == 1      # 8 kHz mono: sane audio
        assert mix["mp4"]["n_plausible"] == 1      # 640x360 track dims
        assert mix["png"]["p50_width"] == 640.0
        assert mix["wav"]["total_bytes"] == 76

        survivors = {
            r["media_id"] for r in filter_media(meta, min_dim=100).collect()
        }
        # min_dim=100 drops the 64x48 BMP; audio (no dims) gates on rate
        assert survivors == {-1, -2, -3, -5, -6, -7}
        only_img = {
            r["media_id"]
            for r in filter_media(
                meta, formats=["png", "webp"], min_dim=100
            ).collect()
        }
        assert only_img == {-1, -5}

        frames = sample_frames_by_duration(meta, every_ms=1000).collect()
        by_id = {}
        for r in frames:
            by_id.setdefault(r["media_id"], []).append((r["frame_no"], r["t_ms"]))
        # only the MP4 declared a >=1s duration (5000 ms -> 5 frames);
        # the WAV's 2 ms clip still yields its single t=0 frame
        assert sorted(by_id[-7]) == [(i, i * 1000) for i in range(5)]
        assert sorted(by_id[-6]) == [(0, 0)]
        assert set(by_id) == {-6, -7}

    def test_parse_flac_and_ogg_goldens(self):
        """(r12) FLAC STREAMINFO bit unpacking (20-bit rate / 3-bit
        channels / 36-bit total samples) and Ogg first-packet codec
        identification (OpusHead, \\x01vorbis), plus refusals for
        out-of-spec heads."""
        from oni_ml_spark.datapipe.multimodal import parse_media_container

        def flac(sr, ch, total):
            packed = (sr << 44) | ((ch - 1) << 41) | (16 - 1) << 36 | total
            return (
                b"fLaC" + b"\x00" + (34).to_bytes(3, "big")
                + (4096).to_bytes(2, "big") + (4096).to_bytes(2, "big")
                + (0).to_bytes(3, "big") + (0).to_bytes(3, "big")
                + packed.to_bytes(8, "big") + b"\x00" * 16  # md5 stub
            )

        got = parse_media_container(flac(44100, 2, 88200))
        assert (got["format"], got["sample_rate"], got["channels"],
                got["duration_ms"]) == ("flac", 44100, 2, 2000)
        # zero total samples (streamed/unknown length): duration null
        assert parse_media_container(flac(48000, 1, 0))["duration_ms"] is None
        # first block not STREAMINFO / implausible rate: refuse
        bad = bytearray(flac(44100, 2, 88200)); bad[4] = 0x04  # VORBIS_COMMENT
        assert parse_media_container(bytes(bad)) is None
        assert parse_media_container(flac(0, 2, 100)) is None

        def ogg(first_packet):
            return (
                b"OggS" + b"\x00" + b"\x02" + b"\x00" * 8  # version, BOS, granule
                + b"\x01\x00\x00\x00" + b"\x00" * 4 + b"\x00" * 4  # serial/seq/crc
                + b"\x01" + bytes([len(first_packet)])  # 1 segment
                + first_packet
            )

        opus = ogg(b"OpusHead" + b"\x01" + b"\x02" + b"\x38\x01"
                   + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
        got = parse_media_container(opus)
        assert (got["format"], got["sample_rate"], got["channels"]) == (
            "ogg", 48000, 2)
        vorbis = ogg(b"\x01vorbis" + b"\x00\x00\x00\x00" + b"\x02"
                     + (44100).to_bytes(4, "little") + b"\x00" * 12)
        got = parse_media_container(vorbis)
        assert (got["format"], got["sample_rate"], got["channels"]) == (
            "ogg", 44100, 2)
        # unknown codec in an Ogg page still classifies, fields null
        got = parse_media_container(ogg(b"\x7fFLAC rest"))
        assert got["format"] == "ogg" and got["sample_rate"] is None
        # an implausible DECLARED rate nulls the field but keeps the
        # classification — the container magic is real, the number lies
        zero_rate = ogg(b"OpusHead" + b"\x01" + b"\x02" + b"\x38\x01"
                        + (0).to_bytes(4, "little") + b"\x00\x00\x00")
        got = parse_media_container(zero_rate)
        assert got["format"] == "ogg"
        assert got["sample_rate"] is None and got["channels"] == 2
        # non-zero structure version: refuse
        bad_ver = bytearray(opus); bad_ver[4] = 1
        assert parse_media_container(bytes(bad_ver)) is None
        # whole-file payload: the final page's granule position yields the
        # duration (Opus granules tick at 48 kHz regardless of input rate)
        def ogg_page(granule, packet, ptype=0):
            return (
                b"OggS" + b"\x00" + bytes([ptype])
                + granule.to_bytes(8, "little")
                + b"\x01\x00\x00\x00" + b"\x00" * 4 + b"\x00" * 4
                + b"\x01" + bytes([len(packet)]) + packet
            )
        whole = (
            ogg_page(0, b"OpusHead" + b"\x01" + b"\x02" + b"\x38\x01"
                     + (48000).to_bytes(4, "little") + b"\x00\x00\x00", 2)
            + ogg_page(96000, b"\x00" * 10, 4)  # EOS page: 2 s at 48 kHz
        )
        got = parse_media_container(whole)
        assert (got["format"], got["duration_ms"]) == ("ogg", 2000)
        # header-only payload still carries null duration
        assert parse_media_container(opus)["duration_ms"] is None

    def test_parse_mp3_and_tiff_goldens(self):
        """(r12) MP3 (ID3v2 syncsafe guard + Layer III frame header) and
        TIFF (both endiannesses, first-IFD SHORT/LONG dims) — plus the
        structural guards that keep prose starting with the printable
        'ID3' letters out."""
        from oni_ml_spark.datapipe.multimodal import (
            parse_image_header,
            parse_media_container,
        )

        # bare MPEG1 Layer III frame: FF FB = sync + MPEG1 + layer III;
        # byte 2: bitrate idx 9, sample rate idx 0 (44100); byte 3:
        # mode 01 (joint stereo)
        bare = b"\xff\xfb\x90\x40" + b"\x00" * 32
        got = parse_media_container(bare)
        assert (got["format"], got["sample_rate"], got["channels"]) == (
            "mp3", 44100, 2)
        # mono MPEG2: version bits 10 -> 22050 at idx 0; mode 11
        mono = b"\xff\xf3\x90\xc0" + b"\x00" * 8
        got = parse_media_container(mono)
        assert (got["sample_rate"], got["channels"]) == (22050, 1)
        # ID3v2-tagged: 16-byte tag, then the frame
        id3 = (b"ID3" + bytes([3, 0]) + b"\x00"
               + bytes([0, 0, 0, 16]) + b"\x00" * 16 + bare)
        got = parse_media_container(id3)
        assert (got["format"], got["sample_rate"]) == ("mp3", 44100)
        # prose starting 'ID3', non-syncsafe sizes, tag-past-head, and a
        # tag whose claimed audio start holds no frame: all refuse
        for bad in (
            b"ID3 tags are widely used in audio files",
            b"ID3" + bytes([3, 0]) + b"\x00" + bytes([0, 0, 0x80, 0]) + b"\x00" * 20,
            b"ID3" + bytes([3, 0]) + b"\x00" + bytes([0, 0, 1, 0]) + b"\x00" * 4,
            b"ID3" + bytes([3, 0]) + b"\x00" + bytes([0, 0, 0, 4]) + b"\x00" * 12,
        ):
            assert parse_media_container(bad) is None

        def tiff(endian, w, h, typ=4):
            bo = "little" if endian == "II" else "big"
            magic = b"II*\x00" if endian == "II" else b"MM\x00*"
            nb = 2 if typ == 3 else 4
            def entry(tag, val):
                return (tag.to_bytes(2, bo) + typ.to_bytes(2, bo)
                        + (1).to_bytes(4, bo)
                        + val.to_bytes(nb, bo) + b"\x00" * (4 - nb))
            return (magic + (8).to_bytes(4, bo) + (2).to_bytes(2, bo)
                    + entry(256, w) + entry(257, h) + (0).to_bytes(4, bo))

        # (review) reserved bitrate index 15: no real decoder accepts it
        assert parse_media_container(b"\xff\xfb\xf0\x40" + b"\x00" * 8) is None
        # (review) ID3v2.4 footer flag: audio starts 10 bytes later
        footer_tag = (b"ID3" + bytes([4, 0]) + b"\x10"
                      + bytes([0, 0, 0, 16]) + b"\x00" * 16
                      + b"3DI" + bytes([4, 0]) + b"\x00" + bytes([0, 0, 0, 16])
                      + bare)
        got = parse_media_container(footer_tag)
        assert (got["format"], got["sample_rate"]) == ("mp3", 44100)

        for e in ("II", "MM"):
            got = parse_image_header(tiff(e, 2480, 3508))
            assert got == {"n_bytes": 38, "format": "tiff",
                           "width": 2480, "height": 3508}
            # SHORT-typed dims read the left-justified 2-byte slot
            got = parse_image_header(tiff(e, 640, 480, typ=3))
            assert (got["width"], got["height"]) == (640, 480)
        # IFD missing a dim tag / pointing past the head: refuse
        assert parse_image_header(b"II*\x00" + (8).to_bytes(4, "little")
                                  + (0).to_bytes(2, "little")) is None
        assert parse_image_header(b"II*\x00" + (999).to_bytes(4, "little")) is None
        # (review) count>1 means the value slot holds a file OFFSET, not
        # the dimension — refuse instead of reading garbage dims
        bo = "little"
        def entry_c2(tag):
            return (tag.to_bytes(2, bo) + (4).to_bytes(2, bo)
                    + (2).to_bytes(4, bo) + (38).to_bytes(4, bo))
        multi = (b"II*\x00" + (8).to_bytes(4, bo) + (2).to_bytes(2, bo)
                 + entry_c2(256) + entry_c2(257) + (0).to_bytes(4, bo))
        assert parse_image_header(multi) is None

    def test_bmff_image_brands_classify_as_images(self):
        """(r12) AVIF/HEIC are ISO-BMFF files with an ftyp box like any
        mp4 — brand dispatch must classify them as IMAGES (with ispe
        dims when the property boxes are in the head), never as video."""
        from oni_ml_spark.datapipe.multimodal import parse_media_container

        def box(t, payload):
            return (8 + len(payload)).to_bytes(4, "big") + t + payload

        ftyp_avif = box(b"ftyp", b"avif" + b"\x00" * 4 + b"mif1")
        ispe = box(b"ispe", b"\x00" * 4
                   + (1200).to_bytes(4, "big") + (800).to_bytes(4, "big"))
        meta = box(b"meta", b"\x00" * 4 + box(b"iprp", box(b"ipco", ispe)))
        got = parse_media_container(ftyp_avif + meta)
        assert (got["format"], got["width"], got["height"],
                got["duration_ms"]) == ("avif", 1200, 800, None)
        # ftyp-only head: classified by brand, dims honestly null
        got = parse_media_container(ftyp_avif)
        assert got["format"] == "avif" and got["width"] is None
        ftyp_heic = box(b"ftyp", b"heic" + b"\x00" * 4)
        assert parse_media_container(ftyp_heic)["format"] == "heic"
        # a video brand still routes to the moov walk
        ftyp_isom = box(b"ftyp", b"isom" + b"\x00" * 4)
        assert parse_media_container(ftyp_isom)["format"] == "mp4"

    def test_declared_duration_hardening(self, spark):
        """(r12 review) header-DECLARED durations are untrusted: the mvhd
        all-ones "unknown" sentinel and lying u64s must clamp to null
        (unclamped they overflow the Arrow int64 conversion and kill the
        decode stage), non-canonical WAV chunk order (data before fmt)
        still yields a duration, and sample_frames_by_duration caps
        per-media frames so one lying file can't blow the array limit."""
        from pyspark.sql import functions as SF

        from oni_ml_spark.datapipe.multimodal import (
            _MAX_PLAUSIBLE_DURATION_MS,
            extract_media_metadata,
            parse_media_container,
            sample_frames_by_duration,
        )

        def mp4_with_mvhd(ver, timescale, duration):
            ftyp = (16).to_bytes(4, "big") + b"ftyp" + b"isom" + b"\x00" * 4
            if ver == 0:
                body = (
                    bytes([0, 0, 0, 0]) + b"\x00" * 8
                    + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
                    + b"\x00" * 80
                )
            else:
                body = (
                    bytes([1, 0, 0, 0]) + b"\x00" * 16
                    + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big")
                    + b"\x00" * 80
                )
            mvhd = (8 + len(body)).to_bytes(4, "big") + b"mvhd" + body
            moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
            return ftyp + moov

        # v1 all-ones sentinel (would be ~3e19 ms): null, classification kept
        got = parse_media_container(mp4_with_mvhd(1, 600, (1 << 64) - 1))
        assert got["format"] == "mp4" and got["duration_ms"] is None
        # v0 sentinel: same
        got = parse_media_container(mp4_with_mvhd(0, 1, (1 << 32) - 1))
        assert got["format"] == "mp4" and got["duration_ms"] is None
        # lying-but-not-sentinel duration beyond 30 days: clamped to null
        month_ms = _MAX_PLAUSIBLE_DURATION_MS
        got = parse_media_container(mp4_with_mvhd(0, 1, 40 * 24 * 3600))
        assert got["duration_ms"] is None
        # sane duration survives
        got = parse_media_container(mp4_with_mvhd(0, 600, 600 * 90))
        assert got["duration_ms"] == 90_000

        # the sentinel payload flows through the Arrow batch without
        # killing the stage (this is the reproduced OverflowError path)
        media = spark.createDataFrame(
            [(1, bytearray(mp4_with_mvhd(1, 600, (1 << 64) - 1)))],
            "media_id long, payload binary",
        )
        rows = extract_media_metadata(media).collect()
        assert rows[0]["format"] == "mp4" and rows[0]["duration_ms"] is None

        # WAV with data chunk BEFORE fmt: duration still computed
        wav_swapped = (
            b"RIFF" + (68).to_bytes(4, "little") + b"WAVE"
            + b"data" + (32).to_bytes(4, "little") + b"\x00" * 32
            + b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        )
        got = parse_media_container(wav_swapped)
        assert (got["format"], got["duration_ms"]) == ("wav", 2)

        # frame cap: a max-plausible duration at 1 ms stride caps at the
        # explicit per-media bound instead of a 2.6e9-element sequence
        meta = spark.createDataFrame(
            [(1, month_ms), (2, 5000)],
            "media_id long, duration_ms long",
        )
        frames = (
            sample_frames_by_duration(meta, every_ms=1, max_frames_per_media=1000)
            .groupBy("media_id").agg(SF.count(SF.lit(1)).alias("n"),
                                     SF.max("frame_no").alias("mx"))
            .collect()
        )
        byid = {r["media_id"]: r for r in frames}
        assert byid[1]["n"] == 1000 and byid[1]["mx"] == 999  # capped
        assert byid[2]["n"] == 1000 and byid[2]["mx"] == 999  # 5000>cap too

    def test_codec_probe_auto_upgrades_default_decoder(self, spark, monkeypatch):
        """(r12) the guarded-import probe: in THIS sandbox (no Pillow) the
        probe returns None and the header sniffer stays the default; with
        a (fake) PIL injected, the codec decoder becomes the default and
        real pixel-level opens flow through extract_media_metadata with
        the plan, schema, and batching untouched.  The fake's Image class
        nests in the test so cloudpickle ships it to executors BY VALUE —
        exactly how a real installed Pillow ships by reference."""
        import sys
        import types

        from oni_ml_spark.datapipe.multimodal import (
            MEDIA_META_SCHEMA,
            attach_payload,
            default_decoder,
            decode_media_header,
            extract_media_metadata,
            try_codec_decoder,
        )

        # codec-less sandbox: probe declines, sniffer is the default
        assert try_codec_decoder() is None
        assert default_decoder() is decode_media_header

        class FakeImg:
            """Decodes any payload that starts with b'IMG!' as a
            (first-byte x last-byte) image — dims the header sniffer
            could never produce, so the assertion proves the codec path."""

            def __init__(self, w, h):
                self.size = (w, h)
                self.format = "FAKEFMT"

        class FakeImage:
            @staticmethod
            def open(fh):
                b = fh.read()
                if not b.startswith(b"IMG!"):
                    raise OSError("cannot identify image file")
                return FakeImg(int(b[4]), int(b[5]))

        fake_pil = types.ModuleType("PIL")
        fake_pil.Image = FakeImage
        monkeypatch.setitem(sys.modules, "PIL", fake_pil)

        decode = try_codec_decoder()
        assert decode is not None
        # codec path: decodes the planted payload
        assert decode(b"IMG!\x28\x1e rest") == {
            "n_bytes": 11, "format": "fakefmt", "width": 40, "height": 30,
        }
        # fallback path: undecodable payloads keep the sniffer/stub values
        assert decode(b"hello") == decode_media_header(b"hello")

        docs = spark.createDataFrame(
            [(1, "IMG!\x28\x1e payload"), (2, "plain text")],
            "doc_id long, text string",
        )
        media = attach_payload(docs, "doc_id", "text")
        out = extract_media_metadata(media, decoder=decode)
        assert out.schema == MEDIA_META_SCHEMA  # seam/plan untouched
        rows = {r["media_id"]: r for r in out.collect()}
        assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == (
            "fakefmt", 40, 30,
        )
        assert rows[2]["format"] == "fake/raw"  # stub fallback

    def test_parse_media_container_roundtrip_property(self):
        """(r12) hypothesis round-trip: for GENERATED valid headers of each
        format, parsed dimensions/rates equal the generated ones — the
        fixed goldens pin known bytes, this pins the struct arithmetic
        over the whole plausible parameter space."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from oni_ml_spark.datapipe.multimodal import parse_media_container

        dim = st.integers(min_value=1, max_value=0x3FFF)
        rate = st.integers(min_value=1, max_value=384_000)
        chans = st.integers(min_value=1, max_value=8)

        @settings(max_examples=250, deadline=None)
        @given(
            w=dim, h=dim, sr=rate, ch=chans,
            fmt=st.sampled_from([
                "png", "gif", "webp_vp8", "webp_vp8l", "wav",
                "flac", "tiff_ii", "tiff_mm",
            ]),
        )
        def prop(w, h, sr, ch, fmt):
            if fmt == "png":
                payload = (
                    b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
                    + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                    + b"\x08\x06\x00\x00\x00"
                )
                want = ("png", w, h, None, None)
            elif fmt == "gif":
                payload = (
                    b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
                    + b"\xf7\x00\x00"
                )
                want = ("gif", w, h, None, None)
            elif fmt == "webp_vp8":
                chunk = (
                    b"\x30\x01\x00\x9d\x01\x2a"
                    + w.to_bytes(2, "little") + h.to_bytes(2, "little")
                )
                payload = (
                    b"RIFF" + (12 + len(chunk)).to_bytes(4, "little") + b"WEBP"
                    + b"VP8 " + len(chunk).to_bytes(4, "little") + chunk
                )
                want = ("webp", w, h, None, None)
            elif fmt == "webp_vp8l":
                word = (w - 1) | ((h - 1) << 14)
                chunk = b"\x2f" + word.to_bytes(4, "little")
                payload = (
                    b"RIFF" + (12 + len(chunk)).to_bytes(4, "little") + b"WEBP"
                    + b"VP8L" + len(chunk).to_bytes(4, "little") + chunk
                )
                want = ("webp", w, h, None, None)
            elif fmt == "wav":
                byte_rate = sr * ch * 2
                payload = (
                    b"RIFF" + (36 + 8).to_bytes(4, "little") + b"WAVE"
                    + b"fmt " + (16).to_bytes(4, "little")
                    + (1).to_bytes(2, "little") + ch.to_bytes(2, "little")
                    + sr.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
                    + (ch * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
                    + b"data" + (8).to_bytes(4, "little") + b"\x00" * 8
                )
                want = ("wav", None, None, sr, ch)
            elif fmt == "flac":
                packed = (sr << 44) | ((ch - 1) << 41) | (16 - 1) << 36 | 0
                payload = (
                    b"fLaC" + b"\x00" + (34).to_bytes(3, "big")
                    + (4096).to_bytes(2, "big") + (4096).to_bytes(2, "big")
                    + (0).to_bytes(3, "big") + (0).to_bytes(3, "big")
                    + packed.to_bytes(8, "big") + b"\x00" * 16
                )
                want = ("flac", None, None, sr, ch)
            else:  # tiff, either endianness
                bo = "little" if fmt == "tiff_ii" else "big"
                magic = b"II*\x00" if fmt == "tiff_ii" else b"MM\x00*"

                def entry(tag, val):
                    return (tag.to_bytes(2, bo) + (4).to_bytes(2, bo)
                            + (1).to_bytes(4, bo) + val.to_bytes(4, bo))

                payload = (
                    magic + (8).to_bytes(4, bo) + (2).to_bytes(2, bo)
                    + entry(256, w) + entry(257, h) + (0).to_bytes(4, bo)
                )
                want = ("tiff", w, h, None, None)

            got = parse_media_container(payload)
            assert got is not None
            assert (
                got["format"], got["width"], got["height"],
                got["sample_rate"], got["channels"],
            ) == want

        prop()

    def test_parse_image_header_never_crashes_on_arbitrary_bytes(self):
        """(r11) property: the parser TOTAL-functions over arbitrary byte
        strings — corrupt uploads and truncated payloads at 100 TB scale
        must classify (None -> stub fallback), never throw into the Arrow
        batch.  Adversarial prefixes steer the fuzz into every magic's
        partial-header territory."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from oni_ml_spark.datapipe.multimodal import (
            parse_image_header,
            parse_media_container,
        )

        magics = [
            b"", b"\x89PNG\r\n\x1a\n", b"GIF87a", b"GIF89a",
            b"\xff\xd8", b"\xff\xd8\xff", b"BM",
            # r12: container magics — partial RIFF/WEBP/WAVE preambles and
            # ISO-BMFF box heads steer the fuzz into the new parsers
            b"RIFF", b"RIFF\x10\x00\x00\x00WEBP", b"RIFF\x10\x00\x00\x00WAVE",
            b"\x00\x00\x00\x10ftyp", b"\x00\x00\x00\x10ftypisom",
            b"fLaC", b"fLaC\x00\x00\x00\x22", b"OggS", b"OggS\x00\x02",
            b"ID3", b"ID3\x03\x00\x00", b"\xff\xfb", b"\xff\xe0",
            b"II*\x00", b"MM\x00*", b"II*\x00\x08\x00\x00\x00",
        ]

        @settings(max_examples=300, deadline=None)
        @given(
            prefix=st.sampled_from(magics),
            tail=st.binary(min_size=0, max_size=64),
        )
        def prop(prefix, tail):
            payload = prefix + tail
            got = parse_image_header(payload)
            if got is not None:
                assert got["n_bytes"] == len(payload)
                assert got["format"] in ("png", "gif", "jpeg", "bmp", "webp", "tiff")
                assert isinstance(got["width"], int)
                assert isinstance(got["height"], int)
            got = parse_media_container(payload)
            if got is not None:
                assert got["n_bytes"] == len(payload)
                assert got["format"] in (
                    "png", "gif", "jpeg", "bmp", "webp", "tiff", "wav", "mp4",
                    "flac", "ogg", "mp3", "avif", "heic", "heif",
                )

        prop()


class TestBucketedNearDup:
    def test_bucketed_matches_exact_on_planted_dups(self, spark):
        """The banded-SRP composition must find every planted near-dup pair
        that the exact all-pairs oracle finds — on real testdata embeddings
        plus perturbed copies (the same fixture shape the battery query
        uses)."""
        from oni_ml_spark.datapipe.similarity import (
            as_double_array,
            embedding_near_duplicates_bucketed,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        base = emb.select("vec_id", as_double_array("embedding").alias("embedding"))
        planted = base.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 0.999 + 0.001).alias("embedding"),
        )
        fixture = base.unionByName(planted)

        exact = {
            (r["id_a"], r["id_b"], r["sim"])
            for r in embedding_near_duplicates(fixture, threshold=0.9).collect()
        }
        bucketed = {
            (r["id_a"], r["id_b"], r["sim"])
            for r in embedding_near_duplicates_bucketed(
                fixture, threshold=0.9, dim=64
            ).collect()
        }
        assert len(exact) >= 25  # the fixture is non-vacuous
        assert bucketed == exact

    def test_bucketed_plan_has_no_cartesian(self, spark):
        from oni_ml_spark.datapipe.similarity import embedding_near_duplicates_bucketed

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = embedding_near_duplicates_bucketed(emb, dim=64)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestTopNgrams:
    def test_top_ngram_frequencies(self, spark, docs):
        """Corpus n-gram frequency table: shared shingles across the dup
        cluster must dominate the top of the list."""
        from oni_ml_spark.datapipe.dedup import shingle_table

        sh = shingle_table(docs, "doc_id", "text", 3)
        top = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("shingle"))
            .limit(5)
            .collect()
        )
        # docs 0/1 are identical and 2 is a near-dup: the dup cluster's
        # shared 3-grams must top the list (>= 3 occurrences)
        assert top[0]["cnt"] >= 3
        assert all(top[i]["cnt"] >= top[i + 1]["cnt"] for i in range(len(top) - 1))


class TestRobustStats:
    def test_string_keys_pass_through(self, spark):
        """Regression: the output key field takes the INPUT column's dtype —
        string group keys (the common case) must survive unmangled."""
        from oni_ml_spark.datapipe.textstats import robust_stats

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("a", 100.0), ("b", 5.0)],
            "grp string, v double",
        )
        rows = {r["key"]: r for r in robust_stats(df, "grp", "v").collect()}
        assert set(rows) == {"a", "b"}
        assert rows["a"]["median"] == 3.0
        assert rows["a"]["mad"] == 2.0
        assert rows["b"]["n"] == 1

    def test_colliding_column_names(self, spark):
        """r13 regression (ADVICE r12, medium): an input that already has
        columns named key/median/n/mad — or whose key column IS 'key' —
        must not make the internal self-join ambiguous."""
        from oni_ml_spark.datapipe.textstats import robust_stats

        df = spark.createDataFrame(
            [("a", 1.0, 9.0, 9.0, 9, 9.0), ("a", 3.0, 9.0, 9.0, 9, 9.0)],
            "key string, v double, median double, mad double, n int, value double",
        )
        rows = robust_stats(df, "key", "v").collect()
        assert len(rows) == 1
        assert rows[0]["median"] == 2.0

    def test_null_key_group_kept(self, spark):
        """r13 regression (ADVICE r12, low): groupBy emits the null-key
        group; the null-safe joins must carry it to the output like the
        pre-r12 applyInPandas path did."""
        from oni_ml_spark.datapipe.textstats import robust_stats

        df = spark.createDataFrame(
            [(None, 1.0), (None, 3.0), ("b", 5.0)], "grp string, v double"
        )
        rows = {r["key"]: r for r in robust_stats(df, "grp", "v").collect()}
        assert set(rows) == {None, "b"}
        assert rows[None]["n"] == 2
        assert rows[None]["median"] == 2.0
        assert rows[None]["mad"] == 1.0


class TestSamplingAndSessions:
    def test_hash_split_deterministic_and_proportional(self, spark):
        from oni_ml_spark.datapipe.sampling import hash_split

        df = spark.range(10_000).select(F.col("id"))
        a = hash_split(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
        b = hash_split(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
        ca = {r["split"]: r["count"] for r in a.groupBy("split").count().collect()}
        cb = {r["split"]: r["count"] for r in b.groupBy("split").count().collect()}
        assert ca == cb  # deterministic
        assert abs(ca["train"] / 10_000 - 0.8) < 0.02
        assert abs(ca["val"] / 10_000 - 0.1) < 0.02

    def test_session_stats(self, spark):
        from oni_ml_spark.datapipe.sessions import session_stats

        rows = [
            ("u1", "2024-01-01 10:00:00"),
            ("u1", "2024-01-01 10:10:00"),   # same session (10 min gap)
            ("u1", "2024-01-01 11:30:00"),   # new session (80 min gap)
            ("u2", "2024-01-01 10:05:00"),
        ]
        df = spark.createDataFrame(rows, "u string, t string").select(
            "u", F.col("t").cast("timestamp").alias("ts")
        )
        got = {
            (r["u"], r["session_no"]): (r["n_events"], r["duration_sec"])
            for r in session_stats(df, "u", "ts", gap_seconds=1800).collect()
        }
        assert got[("u1", 1)] == (2, 600.0)
        assert got[("u1", 2)] == (1, 0.0)
        assert got[("u2", 1)] == (1, 0.0)

    def test_mask_pii_and_strip_html(self, spark):
        from oni_ml_spark.datapipe.textstats import mask_pii, strip_html

        df = spark.createDataFrame(
            [("reach me at bob.smith+x@corp.co.uk or 192.168.0.1 <b>now</b>",)],
            "s string",
        )
        got = df.select(
            mask_pii("s").alias("m"), strip_html("s").alias("h")
        ).collect()[0]
        assert got["m"] == "reach me at <EMAIL> or <IP> <b>now</b>"
        assert got["h"] == "reach me at bob.smith+x@corp.co.uk or 192.168.0.1 now"


class TestMllibVariants:
    def test_ml_minhash_overlaps_portable_minhash(self, spark, docs):
        from oni_ml_spark.datapipe.dedup import minhash_ml_candidates

        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_ml_candidates(docs, "doc_id", "text").collect()
        }
        # the true near-dup cluster {0,1,5} must surface as candidates
        assert {(0, 1), (0, 5), (1, 5)} <= got
        assert (3, 4) not in got

    def test_kmeans_ivf_recall_on_clustered_data(self, spark):
        from oni_ml_spark.datapipe.similarity import ivf_kmeans_topk

        rows = []
        for vid in range(40):
            c, m = vid // 10, vid % 10
            v = [0.0] * 8
            v[2 * c] = 1.0
            v[(2 * c + 1) % 8] = 0.05 * (m + 1)
            rows.append((vid, v))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter(F.col("vec_id").isin(0, 10, 20, 30))
        exact = brute_force_topk(q, emb, k=3).collect()
        approx = ivf_kmeans_topk(q, emb, k=3, n_cells=4, n_probe=1).collect()
        exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
        got = {}
        for r in approx:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for qid, nid in exact_top1.items():
            assert nid in got[qid]


class TestNearDupComposition:
    def test_lsh_then_exact_verify(self, spark, docs):
        from oni_ml_spark.datapipe.dedup import near_dup_pairs

        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        assert got[(0, 1)] == 1.0
        assert got[(0, 5)] == 1.0
        assert (3, 4) not in got
        # verified jaccard matches the all-pairs exact path on shared pairs
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        for pair, j in got.items():
            assert exact[pair] == j

    def test_short_docs_do_not_crash(self, spark):
        from oni_ml_spark.datapipe.dedup import minhash_signatures, ngram_jaccard_pairs

        df = spark.createDataFrame(
            [(0, "only two"), (1, ""), (2, "a b c d e f g"), (3, "a b c d e f g")],
            "doc_id long, text string",
        )
        pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(2, 3)}
        sigs = minhash_signatures(df, "doc_id", "text").collect()
        assert {r["id"] for r in sigs} == {2, 3}  # short docs: no shingles, no sig


class TestStratifiedSample:
    def test_deterministic_per_stratum_fractions(self, spark):
        from oni_ml_spark.datapipe.sampling import stratified_sample

        df = spark.range(10_000).select(
            F.col("id"),
            F.when(F.col("id") % 10 < 8, "en").otherwise("de").alias("lang"),
        )
        a = stratified_sample(df, "lang", {"en": 0.1, "de": 1.0}, key_col="id")
        b = stratified_sample(df, "lang", {"en": 0.1, "de": 1.0}, key_col="id")
        ca = {r["lang"]: r["count"] for r in a.groupBy("lang").count().collect()}
        cb = {r["lang"]: r["count"] for r in b.groupBy("lang").count().collect()}
        assert ca == cb  # deterministic
        assert ca["de"] == 2000  # fraction 1.0 keeps every row
        assert abs(ca["en"] / 8000 - 0.1) < 0.02  # downsampled dominant class

    def test_unlisted_strata_dropped(self, spark):
        from oni_ml_spark.datapipe.sampling import stratified_sample

        df = spark.createDataFrame(
            [(1, "en"), (2, "zz")], "id long, lang string"
        )
        kept = stratified_sample(df, "lang", {"en": 1.0}, key_col="id").collect()
        assert [r["lang"] for r in kept] == ["en"]


class TestModelPersistence:
    def test_save_load_roundtrip_scores_identically(self, spark, tmp_path):
        from oni_ml_spark.scoring import score_records
        from oni_ml_spark.topics import (
            corpus_counts, fit_topic_model, load_model, save_model,
        )

        events = spark.createDataFrame(
            [(f"u{i % 4}", f"w{(i * 7) % 5}") for i in range(200)],
            "doc string, word string",
        )
        model = fit_topic_model(
            corpus_counts(events, "doc", "word"), topic_count=3, seed=1, max_iter=5
        )
        path = str(tmp_path / "model")
        save_model(model, path)
        loaded = load_model(spark, path)

        assert loaded.topic_count == model.topic_count
        assert loaded.vocabulary == model.vocabulary
        assert loaded.n_docs == model.n_docs
        want = sorted(
            map(tuple, score_records(events, model, "doc", "word").collect())
        )
        got = sorted(
            map(tuple, score_records(events, loaded, "doc", "word").collect())
        )
        assert got == want


class TestNearDupClusters:
    def test_connected_components_chain_and_singleton(self, spark):
        from oni_ml_spark.datapipe.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id long")
        got = {r["id"]: r["cluster"]
               for r in connected_components(edges, nodes=nodes).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    def test_long_chain_labels_every_node_with_its_head(self, spark):
        """A 200-node path graph, ids shuffled along the path: diameter 200.
        The labelling converges whatever the diameter and gives every node
        the smallest id."""
        import random

        from oni_ml_spark.datapipe.dedup import connected_components

        order = list(range(201))
        random.Random(3).shuffle(order)
        edges = spark.createDataFrame(
            list(zip(order, order[1:])), "id_a long, id_b long"
        )
        got = {r["id"]: r["cluster"] for r in connected_components(edges).collect()}
        assert got == {i: 0 for i in range(201)}

    def test_isolated_nodes_and_empty_edges(self, spark):
        from oni_ml_spark.datapipe.dedup import connected_components

        edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long").filter(
            "id_a < 0"
        )
        nodes = spark.createDataFrame([(5,), (7,)], "id long")
        got = {
            r["id"]: r["cluster"]
            for r in connected_components(edges, nodes=nodes).collect()
        }
        assert got == {5: 5, 7: 7}
        assert connected_components(edges).count() == 0

    def test_edge_set_past_max_result_size_fails_naming_it(self, spark):
        """The one collect is bounded by spark.driver.maxResultSize: an edge
        set larger than it fails the job with an error naming that setting,
        before the driver has to hold it."""
        from oni_ml_spark.datapipe.dedup import connected_components

        edges = spark.range(200_000).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )  # 3.2 MB of long pairs
        conf = spark.sparkContext._jsc.sc().conf()
        old = conf.get("spark.driver.maxResultSize", "1g")
        conf.set("spark.driver.maxResultSize", "1m")
        try:
            with pytest.raises(Exception, match="spark.driver.maxResultSize"):
                connected_components(edges)
        finally:
            conf.set("spark.driver.maxResultSize", old)

    def test_job_count_does_not_grow_with_diameter(self, spark):
        """near_dup_clusters runs as many jobs on a 300-document chain of
        near-duplicates (doc i shares 9 of its 10 words with doc i+1 and 8
        with doc i+2, so only neighbours pass the 0.7 threshold) as on a
        2-document one: the components step is one collect, not one job
        per round of label propagation."""
        from oni_ml_spark.datapipe.dedup import near_dup_clusters

        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def chain(n_docs, run):
            docs = spark.createDataFrame(
                [(i, " ".join(f"w{j}" for j in range(i, i + 10)))
                 for i in range(n_docs)],
                "doc_id long, text string",
            )
            group = f"near-dup-chain-{run}"
            sc.setJobGroup(group, group)
            try:
                got = near_dup_clusters(
                    docs, "doc_id", "text", n=1, num_hashes=16, bands=16,
                    threshold=0.7,
                ).collect()
                jobs = tracker.getJobIdsForGroup(group)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert {(r["id"], r["cluster"], r["keep"]) for r in got} == {
                (i, 0, i == 0) for i in range(n_docs)
            }
            return len(jobs)

        chain(2, "warm-up")
        assert chain(300, "long") == chain(2, "short")

    def test_clusters_match_duckdb_recursive_components(self, spark):
        """End-to-end near_dup_clusters vs DuckDB: same verified pairs →
        recursive-CTE reachability → min reachable id per node."""
        import duckdb

        from oni_ml_spark.datapipe.dedup import near_dup_clusters, near_dup_pairs
        from oni_ml_spark.io import load_table

        SF_DIR_ORACLE = "/root/testdata/sf0.01"
        d = load_table(spark, SF_DIR_ORACLE, "documents")
        got = sorted(
            (r["id"], r["cluster"], r["keep"])
            for r in near_dup_clusters(
                d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.3
            ).collect()
        )
        pairs = near_dup_pairs(
            d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.3
        ).select("id_a", "id_b").collect()
        con = duckdb.connect()
        con.execute("CREATE TABLE edges (a BIGINT, b BIGINT)")
        con.executemany(
            "INSERT INTO edges VALUES (?, ?)",
            [(r["id_a"], r["id_b"]) for r in pairs] or [(None, None)],
        )
        n_docs = con.execute(
            f"SELECT count(*) FROM '{SF_DIR_ORACLE}/documents.parquet'"
        ).fetchone()[0]
        want_rows = con.execute(
            f"""
            WITH RECURSIVE
            und AS (SELECT a, b FROM edges WHERE a IS NOT NULL
                    UNION ALL SELECT b, a FROM edges WHERE a IS NOT NULL),
            nodes AS (SELECT doc_id AS id FROM '{SF_DIR_ORACLE}/documents.parquet'),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT und.b, reach.r FROM reach JOIN und ON und.a = reach.id
            )
            SELECT id, min(r) AS cluster FROM reach GROUP BY id
            """
        ).fetchall()
        want = sorted((i, c, i == c) for i, c in want_rows)
        assert len(got) == n_docs
        assert got == want
        # at least one multi-doc cluster must exist at this threshold, or
        # the comparison is vacuous
        assert any(not keep for _, _, keep in got)


class TestSimhashNearDups:
    def test_blocked_pairs_equal_brute_force(self, spark):
        """Pigeonhole banding must have EXACT recall: the blocked result at
        max_hamming=3 equals the all-pairs brute force over fingerprints."""
        from oni_ml_spark.datapipe.dedup import simhash64, simhash_near_dups
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        got = sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(d, "doc_id", "text", max_hamming=3).collect()
        )
        fp = {r["id"]: r["simhash"] for r in simhash64(d, "doc_id", "text").collect()}
        ids = sorted(fp)
        ham = lambda a, b: bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")  # noqa: E731
        want = sorted(
            (a, b, ham(a, b))
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if ham(a, b) <= 3
        )
        assert got == want

    def test_rejects_unreachable_recall(self, spark):
        from oni_ml_spark.datapipe.dedup import simhash_near_dups
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        with pytest.raises(ValueError):
            simhash_near_dups(d, "doc_id", "text", max_hamming=4, bands=4)
        with pytest.raises(ValueError):
            simhash_near_dups(d, "doc_id", "text", bands=5)

    def test_precomputed_fp_matches_default_path(self, spark):
        """r12: fp= over a prebuilt simhash64 table must reproduce the
        default self-computed path row-for-row — a shared fingerprint
        table is an optimization (one tokenize + bitplane pass for the
        self-join's two sides), not a semantic knob."""
        from oni_ml_spark.datapipe.dedup import simhash64, simhash_near_dups
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        a = simhash_near_dups(d, "doc_id", "text", max_hamming=3).collect()
        fp = simhash64(d, "doc_id", "text")
        b = simhash_near_dups(d, "doc_id", "text", max_hamming=3, fp=fp).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestGroupCentroids:
    def test_matches_manual_mean(self, spark):
        from oni_ml_spark.datapipe.similarity import group_centroids

        rows = [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [5.0, 6.0])]
        df = spark.createDataFrame(rows, "g string, embedding array<double>")
        got = {r["group"]: (r["centroid"], r["n"])
               for r in group_centroids(df, "g").collect()}
        assert got["a"][0] == [2.0, 3.0] and got["a"][1] == 2
        assert got["b"][0] == [5.0, 6.0] and got["b"][1] == 1

    def test_normalized_centroids_unit_length(self, spark):
        import math

        from oni_ml_spark.datapipe.similarity import group_centroids
        from oni_ml_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        df = emb.withColumn("g", (F.col("vec_id") % 4).cast("string"))
        for r in group_centroids(df, "g", normalize=True).collect():
            assert abs(math.sqrt(sum(x * x for x in r["centroid"])) - 1.0) < 1e-9

    def test_no_explode_in_plan(self, spark):
        """The centroid aggregate must be one vector aggregation — not a
        posexplode to (group, dim) rows (dim x the shuffle volume)."""
        from oni_ml_spark.datapipe.similarity import group_centroids
        from oni_ml_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        df = emb.withColumn("g", (F.col("vec_id") % 4).cast("string"))
        p = group_centroids(df, "g")._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "Generate" not in p


class TestDeterministicKSample:
    def test_exact_k_per_group_and_stable(self, spark):
        from oni_ml_spark.datapipe.sampling import deterministic_k_sample
        from oni_ml_spark.io import load_table

        e = load_table(spark, "/root/testdata/sf0.001", "events")
        s1 = deterministic_k_sample(e, "event_type", "event_id", 7)
        sizes = {r["event_type"]: r["n"] for r in
                 s1.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        group_sizes = {r["event_type"]: r["n"] for r in
                       e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sizes == {g: min(7, n) for g, n in group_sizes.items()}
        ids1 = sorted(r["event_id"] for r in s1.collect())
        # re-run (fresh plan): identical selection
        ids2 = sorted(r["event_id"] for r in
                      deterministic_k_sample(e, "event_type", "event_id", 7).collect())
        assert ids1 == ids2

    def test_independent_of_hash_split(self, spark):
        """The salted sample must not collapse into one hash_split bucket:
        sampled rows should span train AND the tail splits."""
        from oni_ml_spark.datapipe.sampling import deterministic_k_sample, hash_split
        from oni_ml_spark.io import load_table

        e = load_table(spark, "/root/testdata/sf0.001", "events")
        s = deterministic_k_sample(e, "event_type", "event_id", 50)
        splits = hash_split(s, "event_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        kinds = {r["split"] for r in splits.select("split").distinct().collect()}
        assert "train" in kinds and len(kinds) >= 2

    def test_k_positive_required(self, spark):
        import pytest as _pytest

        from oni_ml_spark.datapipe.sampling import deterministic_k_sample
        from oni_ml_spark.io import load_table

        e = load_table(spark, "/root/testdata/sf0.001", "events")
        with _pytest.raises(ValueError):
            deterministic_k_sample(e, "event_type", "event_id", 0)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _union_find_labels(edges, nodes, key=lambda x: x):
    """{node: smallest node (by ``key``) of its component} by union-find."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb), key=key)
            parent[hi] = lo
    return {x: find(x) for x in nodes}


def _path(ids):
    return list(zip(ids, ids[1:]))


# random graphs (self-loops and duplicate edges included), plus 25-node
# paths with shuffled ids (diameter 24)
_GRAPHS = st.one_of(
    st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=30),
    st.permutations(range(25)).map(_path),
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_GRAPHS, st.integers(25, 30))
def test_connected_components_fuzz_vs_union_find(spark, raw_edges, n_nodes):
    """Random graphs vs a pure-Python union-find: every node must get the
    smallest id reachable from it, isolated nodes (ids 25+) their own."""
    from oni_ml_spark.datapipe.dedup import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    want = _union_find_labels(edges, range(n_nodes))

    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    got = {
        r["id"]: r["cluster"]
        for r in connected_components(edf, nodes=nodes).collect()
    }
    assert got == want


# ids whose orders disagree: Spark compares strings as UTF-8 bytes (code
# points), so "Ａ" (U+FF21) < "😀" (U+1F600), while UTF-16 code units put the
# emoji's surrogate pair first; "Z" < "a" < "é" bytewise, not by locale
_STRING_IDS = ["a", "Z", "é", "e", "\uff21", "\U0001f600", "中", "ab", "A", ""]


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(_STRING_IDS), st.sampled_from(_STRING_IDS)),
        max_size=12,
    )
)
def test_connected_components_string_ids_follow_spark_order(spark, raw_edges):
    """String ids, non-ASCII included: each cluster is the component's
    smallest id in Spark's own ordering, and equals Spark's min() over it."""
    from oni_ml_spark.datapipe.dedup import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    want = _union_find_labels(
        edges, _STRING_IDS, key=lambda x: x.encode("utf-8")
    )
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    nodes = spark.createDataFrame([(i,) for i in _STRING_IDS], "id string")
    labels = connected_components(edf, nodes=nodes)
    assert {r["id"]: r["cluster"] for r in labels.collect()} == want
    spark_min = labels.groupBy("cluster").agg(F.min("id").alias("m"))
    assert all(r["cluster"] == r["m"] for r in spark_min.collect())


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=2, max_size=12,
    ),
    st.integers(0, 3),
)
def test_simhash_blocking_fuzz_exact_recall(spark, texts, max_hamming):
    """Pigeonhole blocking must reproduce the all-pairs brute force exactly
    on adversarial tiny corpora (near-identical token multisets collide
    heavily in every band)."""
    from oni_ml_spark.datapipe.dedup import simhash64, simhash_near_dups

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(
            df, "doc_id", "text", max_hamming=max_hamming, bands=4
        ).collect()
    )
    fp = {r["id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    ids = sorted(fp)
    ham = lambda a, b: bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")  # noqa: E731
    want = sorted(
        (a, b, ham(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(a, b) <= max_hamming
    )
    assert got == want


class TestQuantization:
    def test_roundtrip_error_bounded_and_size_shrinks(self, spark):
        import math

        from oni_ml_spark.datapipe.similarity import (
            as_double_array,
            dequantize_embeddings,
            quantize_embeddings,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id", as_double_array("embedding").alias("embedding")
        )
        q = quantize_embeddings(emb)
        deq = dequantize_embeddings(q.select("vec_id", "qvec", "qvec_scale"),
                                    "qvec", "emb2")
        joined = emb.join(deq, "vec_id").collect()
        assert len(joined) > 0
        for r in joined:
            a, b, n = r["embedding"], r["emb2"], len(r["embedding"])
            # per-dim error <= scale/2 = max|x|/254
            amax = max(abs(x) for x in a) or 1.0
            assert all(abs(x - y) <= amax / 254 + 1e-12 for x, y in zip(a, b))
            # cosine preserved to ~1e-3 on these vectors
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(y * y for y in b))
            if na > 0 and nb > 0:
                assert dot / (na * nb) > 0.999

    def test_all_zero_vector(self, spark):
        from oni_ml_spark.datapipe.similarity import quantize_embeddings

        df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "id long, embedding array<double>")
        r = quantize_embeddings(df).collect()[0]
        assert r["qvec"] == [0, 0, 0] and r["qvec_scale"] == 0.0

    def test_qvec_is_tinyint(self, spark):
        from oni_ml_spark.datapipe.similarity import quantize_embeddings

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        dt = dict(quantize_embeddings(emb).dtypes)
        assert dt["qvec"] == "array<tinyint>"


class TestReviewRegressions:
    def test_normalized_centroid_of_zero_vectors_stays_zero(self, spark):
        """Regression: normalize divided by a zero norm (ANSI error)."""
        from oni_ml_spark.datapipe.similarity import group_centroids

        df = spark.createDataFrame(
            [("z", [0.0, 0.0]), ("z", [0.0, 0.0]), ("a", [3.0, 4.0])],
            "g string, embedding array<double>",
        )
        got = {r["group"]: r["centroid"]
               for r in group_centroids(df, "g", normalize=True).collect()}
        assert got["z"] == [0.0, 0.0]
        assert abs(got["a"][0] - 0.6) < 1e-12 and abs(got["a"][1] - 0.8) < 1e-12

    def test_rollup_sketch_keeps_custom_column_name(self, spark):
        from oni_ml_spark.datapipe.sketches import (
            approx_distinct_by_group,
            rollup_distinct_sketches,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        per = approx_distinct_by_group(e, ["event_type"], "user_id").withColumnRenamed(
            "distinct_sketch", "daily"
        )
        r1 = rollup_distinct_sketches(per, [], sketch_col="daily")
        assert "daily" in r1.columns
        # chains into a second rollup without renaming
        r2 = rollup_distinct_sketches(r1, [], sketch_col="daily")
        assert r2.collect()[0]["approx_distinct"] > 0


class TestParagraphDedup:
    @pytest.fixture(scope="class")
    def para_docs(self, spark):
        rows = [
            (0, "Header\n\nBody A\n\nFooter"),
            (1, "Header\n\nBody B\n\nFooter"),
            (2, "header\n\n\n\nbody a"),  # normalizes to dups of doc 0's units
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_first_occurrence_survives_and_reassembles(self, para_docs):
        from oni_ml_spark.datapipe.dedup import paragraph_dedup

        out = {
            r["id"]: r
            for r in paragraph_dedup(para_docs, "doc_id", "text").collect()
        }
        assert out[0]["text"] == "Header\n\nBody A\n\nFooter"
        assert (out[0]["n_units"], out[0]["n_units_kept"]) == (3, 3)
        assert out[1]["text"] == "Body B"
        assert (out[1]["n_units"], out[1]["n_units_kept"]) == (3, 1)
        # every unit of doc 2 is a (case-insensitive) dup of doc 0's
        assert out[2]["text"] == ""
        assert (out[2]["n_units"], out[2]["n_units_kept"]) == (2, 0)

    def test_matches_duckdb_oracle_on_fixture(self, spark, para_docs):
        import duckdb

        from oni_ml_spark.datapipe.dedup import paragraph_dedup

        got = sorted(
            (r["id"], r["text"], r["n_units"], r["n_units_kept"])
            for r in paragraph_dedup(para_docs, "doc_id", "text").collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO d VALUES (?, ?)",
            [(r["doc_id"], r["text"]) for r in para_docs.collect()],
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                r"""
            WITH p0 AS (
              SELECT doc_id AS id, regexp_split_to_array(text, '\n{2,}') AS arr
              FROM d),
            paras AS (
              SELECT id, unnest(range(len(arr))) AS pos, unnest(arr) AS para
              FROM p0),
            keptp AS (
              SELECT id, pos, para,
                row_number() OVER (
                  PARTITION BY md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g')))
                  ORDER BY id, pos) AS rn
              FROM paras WHERE length(trim(para)) >= 1),
            rebuilt AS (
              SELECT id, string_agg(para, e'\n\n' ORDER BY pos) AS text,
                     count(*) AS n_units_kept
              FROM keptp WHERE rn = 1 GROUP BY id),
            totals AS (
              SELECT id, count(*) AS n_units FROM paras
              WHERE length(trim(para)) >= 1 GROUP BY id)
            SELECT d.doc_id AS id, coalesce(rebuilt.text, '') AS text,
                   coalesce(totals.n_units, 0) AS n_units,
                   coalesce(rebuilt.n_units_kept, 0) AS n_units_kept
            FROM d LEFT JOIN totals ON totals.id = d.doc_id
                   LEFT JOIN rebuilt ON rebuilt.id = d.doc_id
            """
            ).fetchall()
        )
        assert got == want


class TestDuplicateSpans:
    @pytest.fixture(scope="class")
    def span_docs(self, spark):
        rows = [
            (0, "a b c d e f"),
            (1, "x y a b c z"),    # shares span "a b c" with doc 0
            (2, "p q r s"),        # clean
            (3, "m n m n m n m n"),  # self-repeating
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_coverage_arithmetic(self, span_docs):
        from oni_ml_spark.datapipe.dedup import duplicate_span_metrics

        out = {
            r["id"]: r
            for r in duplicate_span_metrics(
                span_docs, "doc_id", "text", span=3
            ).collect()
        }
        assert (out[0]["dup_span_starts"], out[0]["covered_tokens"]) == (1, 3)
        assert out[0]["dup_token_fraction"] == 0.5
        assert (out[1]["dup_span_starts"], out[1]["covered_tokens"]) == (1, 3)
        assert (out[2]["dup_span_starts"], out[2]["covered_tokens"]) == (0, 0)
        # every 3-gram of doc 3 repeats; overlapping intervals merge exactly
        assert (out[3]["dup_span_starts"], out[3]["covered_tokens"]) == (6, 8)
        assert out[3]["dup_token_fraction"] == 1.0

    def test_removal_keeps_first_occurrence(self, span_docs):
        from oni_ml_spark.datapipe.dedup import remove_duplicate_spans

        out = {
            r["id"]: r
            for r in remove_duplicate_spans(
                span_docs, "doc_id", "text", span=3
            ).collect()
        }
        # doc 0 holds the first occurrence of "a b c" — untouched
        assert out[0]["text"] == "a b c d e f"
        assert out[0]["n_tokens_kept"] == 6
        # doc 1 loses tokens 2..4, keeps the rest in order
        assert out[1]["text"] == "x y z"
        assert out[1]["n_tokens_kept"] == 3
        assert out[2]["text"] == "p q r s"
        # doc 3: non-first occurrences of "m n m"/"n m n" start at 2,3,4,5
        # → covered positions 2..7 → "m n" survives
        assert out[3]["text"] == "m n"
        assert out[3]["n_tokens_kept"] == 2


class TestWeightedMix:
    def test_exact_integer_rate_and_determinism(self, spark):
        from oni_ml_spark.datapipe.sampling import weighted_mix

        rows = [(i, "a" if i < 10 else ("b" if i < 50 else "c")) for i in range(60)]
        df = spark.createDataFrame(rows, "k long, source string")
        out = weighted_mix(df, "source", "k", {"a": 3.0, "b": 1.0}, total_rows=40)
        got = sorted((r["k"], r["source"], r["epoch"]) for r in out.collect())
        # source a: 10 rows, target 30, rate exactly 3.0 → every row 3 epochs
        a_rows = [g for g in got if g[1] == "a"]
        assert len(a_rows) == 30
        assert {g[2] for g in a_rows} == {1, 2, 3}
        # source c not in weights → dropped entirely
        assert not [g for g in got if g[1] == "c"]
        # source b: rate 0.25 — deterministic hash sample near the target
        b_rows = [g for g in got if g[1] == "b"]
        assert all(g[2] == 1 for g in b_rows)
        assert 3 <= len(b_rows) <= 17  # 5σ binomial band around 10
        # same rows, same epochs on a rerun
        again = sorted(
            (r["k"], r["source"], r["epoch"])
            for r in weighted_mix(
                df, "source", "k", {"a": 3.0, "b": 1.0}, total_rows=40
            ).collect()
        )
        assert got == again

    def test_missing_weighted_source_warns(self, spark):
        """A source in weights but absent from the input silently loses its
        target mass — the default validation must surface that (and the
        opt-out must stay silent)."""
        import warnings

        from oni_ml_spark.datapipe.sampling import weighted_mix

        df = spark.createDataFrame(
            [(i, "a") for i in range(10)], "k long, source string"
        )
        with pytest.warns(RuntimeWarning, match="ghost"):
            out = weighted_mix(
                df, "source", "k", {"a": 1.0, "ghost": 3.0}, total_rows=40
            )
        # the mixture indeed under-delivers: only source 'a''s 10-row target
        assert out.count() == 10
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            weighted_mix(
                df, "source", "k", {"a": 1.0, "ghost": 3.0}, total_rows=40,
                validate_sources=False,
            )

    def test_fractional_upsampling(self, spark):
        from oni_ml_spark.datapipe.sampling import weighted_mix

        df = spark.createDataFrame(
            [(i, "s") for i in range(20)], "k long, source string"
        )
        out = weighted_mix(df, "source", "k", {"s": 1.0}, total_rows=50).collect()
        # rate 2.5: every row twice + deterministic half get a 3rd epoch
        per_key = {}
        for r in out:
            per_key.setdefault(r["k"], []).append(r["epoch"])
        assert all(sorted(v)[:2] == [1, 2] for v in per_key.values())
        n3 = sum(1 for v in per_key.values() if len(v) == 3)
        assert 2 <= n3 <= 18  # expected 10 of 20
        assert len(out) == 40 + n3


class TestSemanticDedup:
    def test_planted_duplicates_dropped_within_cluster(self, spark):
        import random

        from oni_ml_spark.datapipe.similarity import semantic_dedup

        rng = random.Random(11)
        centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
        rows = []
        for i in range(60):
            c = centers[i % 3]
            rows.append((i, [x + rng.uniform(-1.0, 1.0) for x in c]))
        # planted semantic dups: tiny scaled copies of vectors 0..5
        for i in range(6):
            rows.append((1000 + i, [x * 1.001 for x in rows[i][1]]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(
            df, "vec_id", "embedding", threshold=0.999, n_cells=3, seed=7
        )
        res = {r["id"]: r for r in out.collect()}
        assert len(res) == 66
        # every planted copy has a smaller-id near-identical neighbor → dropped
        for i in range(6):
            assert res[1000 + i]["keep"] is False, i
            assert res[i]["keep"] is True
            # scaled copy lands in the same k-means cell as its original
            assert res[1000 + i]["cell"] == res[i]["cell"]
        # determinism
        again = {r["id"]: r["keep"] for r in out.collect()}
        assert again == {k: v["keep"] for k, v in res.items()}


class TestSpanDedupProperty:
    def test_random_corpora_match_python_reference(self, spark):
        """Randomized cross-check of the span-dedup pair against a direct
        Python reference (explicit gram counting, first-occurrence marking,
        interval union) — the window arithmetic is the easiest place for an
        off-by-one to hide."""
        import random

        from oni_ml_spark.datapipe.dedup import (
            duplicate_span_metrics,
            remove_duplicate_spans,
        )

        rng = random.Random(23)
        vocab = ["a", "b", "c", "d"]
        span = 3
        for trial in range(3):
            docs = [
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
                for i in range(30)
            ]
            # python reference -------------------------------------------------
            toks = {i: [t for t in s.split() if t] for i, s in docs}
            grams: dict[tuple[str, ...], list[tuple[int, int]]] = {}
            for i, ts in toks.items():
                for p in range(max(len(ts) - span + 1, 0)):
                    grams.setdefault(tuple(ts[p:p + span]), []).append((i, p))
            dup_starts: dict[int, set[int]] = {i: set() for i, _ in docs}
            removed: dict[int, set[int]] = {i: set() for i, _ in docs}
            for g, occs in grams.items():
                if len(occs) >= 2:
                    first = min(occs)
                    for (i, p) in occs:
                        dup_starts[i].add(p)
                        if (i, p) != first:
                            removed[i].update(range(p, p + span))
            want_metrics = {}
            for i, _ in docs:
                starts = sorted(dup_starts[i])
                covered = set()
                for p in starts:
                    covered.update(range(p, p + span))
                want_metrics[i] = (len(toks[i]), len(starts), len(covered))
            want_removed = {
                i: " ".join(
                    t for p, t in enumerate(toks[i]) if p not in removed[i]
                )
                for i, _ in docs
            }
            # spark ------------------------------------------------------------
            df = spark.createDataFrame(docs, "doc_id long, text string")
            got_m = {
                r["id"]: (r["n_tokens"], r["dup_span_starts"], r["covered_tokens"])
                for r in duplicate_span_metrics(
                    df, "doc_id", "text", span=span
                ).collect()
            }
            assert got_m == want_metrics, f"trial {trial}"
            got_r = {
                r["id"]: r["text"]
                for r in remove_duplicate_spans(
                    df, "doc_id", "text", span=span
                ).collect()
            }
            assert got_r == want_removed, f"trial {trial}"


class TestQualityFilter:
    def test_each_rule_fires_and_clean_doc_passes(self, spark):
        from oni_ml_spark.datapipe.textstats import quality_filter

        clean = "the cat and the dog ran off to the park with all of the other dogs " * 3
        rows = [
            (0, clean),                                     # passes everything
            (1, "the of and to"),                           # too few tokens
            (2, "a b c d e f g h " * 10),                   # mean len low + no stopwords
            (3, ("supercalifragilistic " * 60) + "the of"), # mean len high
            (4, ("### " * 20) + clean),                     # symbol ratio
            (5, ("123 456 789 " * 20) + clean),             # alpha fraction
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["id"]: (set(r["failed_rules"]), r["passes"])
            for r in quality_filter(df, "doc_id", "text", min_tokens=20).collect()
        }
        assert out[0] == (set(), True)
        assert "too_few_tokens" in out[1][0] and not out[1][1]
        assert {"mean_token_len_low", "stopword_hits"} <= out[2][0]
        assert "mean_token_len_high" in out[3][0]
        assert "symbol_ratio" in out[4][0]
        assert "alpha_words" in out[5][0]

    def test_repetition_rules_armed_and_default_off(self, spark):
        """(r11) the max_dup_* kwargs arm Gopher's within-document
        repetition rules; default None keeps pre-r11 behavior byte-for-
        byte (a looping doc passes the unarmed gate, fails the armed
        one on exactly the repetition rules)."""
        from oni_ml_spark.datapipe.textstats import quality_filter

        clean = "the cat and the dog ran off to the park with all of the other dogs"
        looping = "\n".join([clean] * 10)          # 90% duplicate lines
        para_loop = "\n\n".join([clean] * 10)      # 90% duplicate paragraphs
        df = spark.createDataFrame(
            [(0, clean * 2), (1, looping), (2, para_loop)],
            "doc_id long, text string",
        )
        unarmed = {
            r["id"]: r["passes"]
            for r in quality_filter(df, "doc_id", "text", min_tokens=20).collect()
        }
        assert unarmed == {0: True, 1: True, 2: True}
        armed = {
            r["id"]: (set(r["failed_rules"]), r["passes"])
            for r in quality_filter(
                df, "doc_id", "text", min_tokens=20,
                max_dup_line_frac=0.30, max_dup_line_char_frac=0.20,
                max_dup_para_frac=0.30, max_dup_para_char_frac=0.20,
            ).collect()
        }
        assert armed[0] == (set(), True)
        assert {"dup_line_frac", "dup_line_char_frac"} <= armed[1][0]
        assert not armed[1][1]
        assert {"dup_para_frac", "dup_para_char_frac"} <= armed[2][0]
        assert not armed[2][1]
        # the armed gate is still one zero-shuffle projection
        plan = (
            quality_filter(
                df, "doc_id", "text", max_dup_line_frac=0.30,
                max_dup_para_char_frac=0.20,
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Generate" not in plan

    def test_multilingual_gate_via_configurable_rules(self, spark):
        """The DEFAULT rules are English-only (ASCII alpha regex, English
        stop-list) and must reject a Chinese document on exactly those two
        language-bound rules — and the configurable knobs (any-letter
        alpha_regex + a zh stop-list) must let the same document through."""
        from oni_ml_spark.datapipe.textstats import quality_filter

        zh = "的 是 在 有 我 他 这 中 大 来 上 国 个 到 说 们 为 子 和 你 " * 3
        df = spark.createDataFrame([(0, zh)], "doc_id long, text string")
        default = quality_filter(df, "doc_id", "text", min_tokens=20).collect()[0]
        assert {"alpha_words", "stopword_hits"} <= set(default["failed_rules"])
        tuned = quality_filter(
            df, "doc_id", "text", min_tokens=20,
            min_mean_token_len=0.5, max_mean_token_len=10.0,
            alpha_regex=r"\p{L}", stopwords=["的", "是", "在"],
        ).collect()[0]
        assert tuned["passes"], tuned["failed_rules"]
        import pytest as _pytest
        with _pytest.raises(ValueError, match="stopwords"):
            quality_filter(df, "doc_id", "text", stopwords=[])

    def test_rejection_accounting_on_corpus(self, spark):
        from oni_ml_spark.datapipe.textstats import quality_filter
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = quality_filter(d, "doc_id", "text", min_tokens=20)
        total = out.count()
        assert total == d.count()
        # per-rule rejection report is one explode + count
        report = {
            r["rule"]: r["cnt"]
            for r in out.select(F.explode("failed_rules").alias("rule"))
            .groupBy("rule").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n_pass = out.filter("passes").count()
        # the synthetic corpus is word soup: some docs pass, some fail,
        # and every failure is accounted to at least one named rule
        assert 0 < n_pass < total
        assert sum(report.values()) >= total - n_pass


class TestBPE:
    def test_train_and_apply_golden(self, spark):
        from oni_ml_spark.datapipe.bpe import (
            END,
            apply_bpe,
            segment_word,
            train_bpe_merges,
        )

        # classic BPE corpus: "low lower newest widest" family — shared
        # subwords must become merges
        rows = [
            (0, "low low low low low lower lower newest newest newest"),
            (1, "newest newest newest widest widest widest"),
            (2, "low lowest newest widest wider"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        merges = train_bpe_merges(df, "text", num_merges=30)
        assert merges, "no merges learned"
        # 'est</w>' family and 'lo'/'low' family must emerge from this corpus
        joined = {a + b for a, b in merges}
        assert any("est" in m for m in joined)
        assert any(m.startswith("lo") for m in joined)

        out = {r["doc_id"]: r for r in apply_bpe(df, "doc_id", "text", merges).collect()}
        ranks = {tuple(p): i for i, p in enumerate(merges)}
        for i, text in rows:
            want = [s for w in text.split() for s in segment_word(w, ranks)]
            assert out[i]["bpe_tokens"] == want, i
            assert out[i]["n_bpe_tokens"] == len(want)
        # frequent whole words collapse to single symbols
        assert "low" + END in set(out[0]["bpe_tokens"])

    def test_deterministic_across_runs(self, spark):
        from oni_ml_spark.datapipe.bpe import apply_bpe, train_bpe_merges
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
        m1 = train_bpe_merges(d, "text", num_merges=50)
        m2 = train_bpe_merges(d, "text", num_merges=50)
        assert m1 == m2
        t1 = sorted(
            (r["doc_id"], tuple(r["bpe_tokens"]))
            for r in apply_bpe(d, "doc_id", "text", m1).collect()
        )
        t2 = sorted(
            (r["doc_id"], tuple(r["bpe_tokens"]))
            for r in apply_bpe(d, "doc_id", "text", m2).collect()
        )
        assert t1 == t2
        # round-trip: concatenating a word's pieces reproduces the word
        from oni_ml_spark.datapipe.bpe import END as E
        for _, toks in t1[:5]:
            rebuilt = "".join(toks).replace(E, " ").strip()
            assert rebuilt  # non-empty, all pieces concatenate cleanly

    def test_merges_persistence_roundtrip_apply_identical(self, spark, tmp_path):
        """merges_to_df → parquet → merges_from_df must reload the exact
        rank-ordered merge list, and apply_bpe with the reloaded merges must
        tokenize identically — the build-once/apply-many contract."""
        from oni_ml_spark.datapipe.bpe import (
            apply_bpe,
            merges_from_df,
            merges_to_df,
            train_bpe_merges,
        )
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(80)
        merges = train_bpe_merges(d, "text", num_merges=40)
        path = str(tmp_path / "bpe_merges.parquet")
        merges_to_df(spark, merges).write.parquet(path)
        reloaded = merges_from_df(spark.read.parquet(path))
        assert reloaded == merges
        a = sorted(
            (r["doc_id"], tuple(r["bpe_tokens"]))
            for r in apply_bpe(d, "doc_id", "text", merges).collect()
        )
        b = sorted(
            (r["doc_id"], tuple(r["bpe_tokens"]))
            for r in apply_bpe(d, "doc_id", "text", reloaded).collect()
        )
        assert a == b and len(a) == 80

    def test_merges_table_validation(self, spark):
        """Corrupt persisted merge tables fail loudly: empty, duplicate
        rank, gapped rank sequence, null fields."""
        import pytest

        from oni_ml_spark.datapipe.bpe import merges_from_df

        schema = "rank int, left string, right string"
        with pytest.raises(ValueError, match="empty"):
            merges_from_df(spark.createDataFrame([], schema))
        with pytest.raises(ValueError, match="duplicate rank"):
            merges_from_df(
                spark.createDataFrame([(0, "a", "b"), (0, "c", "d")], schema)
            )
        with pytest.raises(ValueError, match="missing ranks"):
            merges_from_df(
                spark.createDataFrame([(0, "a", "b"), (2, "c", "d")], schema)
            )
        with pytest.raises(ValueError, match="null fields"):
            merges_from_df(spark.createDataFrame([(0, None, "b")], schema))

    def test_incremental_loop_equals_from_scratch_recount(self, spark):
        """The r05 incremental pair-count merge loop must learn the IDENTICAL
        merge sequence as the original from-scratch recount (the reference
        implementation inlined here), including count-then-lexicographic
        tie-breaking and the count>=2 stop rule."""
        from oni_ml_spark.datapipe.bpe import (
            END,
            _merge_word,
            train_bpe_merges,
            word_frequencies,
        )
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(150)
        got = train_bpe_merges(d, "text", num_merges=120)

        wf = {
            r["word"]: r["freq"]
            for r in word_frequencies(d, "text", 100_000).collect()
        }
        vocab = {tuple(list(w) + [END]): f for w, f in wf.items()}
        want = []
        for _ in range(120):
            pairs: dict[tuple[str, str], int] = {}
            for sym, f in vocab.items():
                for a, b in zip(sym, sym[1:]):
                    pairs[(a, b)] = pairs.get((a, b), 0) + f
            if not pairs:
                break
            best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
            if best[1] < 2:
                break
            want.append(best[0])
            vocab = {_merge_word(s, best[0]): f for s, f in vocab.items()}
        assert got == want

    def test_two_thousand_merges_complete_fast(self, spark):
        """Incremental updates make large merge counts practical: 2000
        merges over the sf0.001 corpus must finish in seconds (the
        from-scratch recount was O(merges x vocab x word_len)) and stay
        deterministic."""
        import random
        import time

        from oni_ml_spark.datapipe.bpe import train_bpe_merges

        # the sf0.001 word-soup vocabulary exhausts after ~100 merges, so
        # synthesize a vocabulary rich enough to sustain thousands: 8000
        # distinct words with zipf-ish repetition
        rng = random.Random(5)
        words = [
            "".join(rng.choice("abcdefghij") for _ in range(rng.randint(6, 12)))
            for _ in range(8000)
        ]
        docs = [
            (i, " ".join(words[j] for j in range(i * 80, (i + 1) * 80)))
            for i in range(100)
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        t0 = time.perf_counter()
        m1 = train_bpe_merges(d, "text", num_merges=2000)
        elapsed = time.perf_counter() - t0
        assert elapsed < 30.0, elapsed
        m2 = train_bpe_merges(d, "text", num_merges=2000)
        assert m1 == m2
        assert len(m1) == 2000  # well past the old practical ceiling

    def test_null_text_tokenizes_to_empty(self, spark):
        """NULL documents must tokenize to [] (they train as nothing via
        explode), not TypeError inside the Arrow segment loop."""
        from oni_ml_spark.datapipe.bpe import apply_bpe, train_bpe_merges

        df = spark.createDataFrame(
            [(0, "low low lower"), (1, None), (2, "newest")],
            "doc_id long, text string",
        )
        merges = train_bpe_merges(df, "text", num_merges=10)
        out = {r["doc_id"]: r for r in apply_bpe(df, "doc_id", "text", merges).collect()}
        assert out[1]["bpe_tokens"] == [] and out[1]["n_bpe_tokens"] == 0
        assert out[0]["n_bpe_tokens"] > 0 and out[2]["n_bpe_tokens"] > 0


class TestSemanticDedupEdges:
    def test_zero_norm_vectors_survive_under_ansi(self, spark):
        """Two all-zero embeddings co-locate in a k-means cell; cosine is
        undefined for them, so they must be kept (no pair) rather than
        crash the job with DIVIDE_BY_ZERO under ANSI mode."""
        from oni_ml_spark.datapipe.similarity import semantic_dedup

        rows = [(0, [0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]),
                (2, [1.0, 0.0, 0.0]), (3, [1.001, 0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["id"]: r["keep"] for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.999, n_cells=2, seed=7
        ).collect()}
        assert out[0] is True and out[1] is True
        assert (out[2], out[3]) == (True, False)

    def test_single_cell_degenerate(self, spark):
        from oni_ml_spark.datapipe.similarity import semantic_dedup

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.0001]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        out = {r["id"]: r for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.999, n_cells=1
        ).collect()}
        assert all(r["cell"] == 0 for r in out.values())
        assert out[0]["keep"] is True and out[1]["keep"] is False
        import pytest as _pytest
        with _pytest.raises(ValueError):
            semantic_dedup(df, "vec_id", "embedding", n_cells=0)


class TestContaminationEvalIdIndependence:
    def test_eval_frame_without_train_id_column(self, spark):
        from oni_ml_spark.datapipe.textstats import ngram_contamination

        train = spark.createDataFrame(
            [(0, "a b c d e f g h i j"), (1, "k l m n o p q r s t")],
            "doc_id long, text string",
        )
        eval_df = spark.createDataFrame(
            [("q1", "a b c d e f g h x y")], "qid string, question string"
        )
        out = {r["id"]: r for r in ngram_contamination(
            train, eval_df, "doc_id", "text", eval_text_col="question", n=8
        ).collect()}
        # train doc 0 shares exactly the 8-gram "a b c d e f g h"
        assert out[0]["n_contaminated"] == 1
        assert out[1]["n_contaminated"] == 0


class TestSharedGramTablePaths:
    """r12: the prebuilt-table fast paths (duplicate_span_metrics(grams=),
    ngram_contamination(train_shingles=/eval_shingles=)) must reproduce the
    default self-computed paths row-for-row — they are optimizations (one
    corpus gram pass shared across operators), not semantic knobs."""

    def test_prebuilt_tables_match_default_paths(self, spark):
        from pyspark.sql import functions as F

        from oni_ml_spark.datapipe.dedup import (
            _span_gram_table,
            duplicate_span_metrics,
        )
        from oni_ml_spark.datapipe.textstats import ngram_contamination
        from oni_ml_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        train = docs.filter(F.col("doc_id") % 10 != 0)
        evald = docs.filter(F.col("doc_id") % 10 == 0)

        grams = _span_gram_table(docs, "doc_id", "text", span=8)
        a = duplicate_span_metrics(docs, "doc_id", "text", span=8, min_count=2)
        b = duplicate_span_metrics(
            docs, "doc_id", "text", span=8, min_count=2, grams=grams
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

        shd = grams.select("id", F.col("gkey").alias("shingle")).distinct()
        c = ngram_contamination(train, evald, "doc_id", "text", n=8)
        d = ngram_contamination(
            train, evald, "doc_id", "text", n=8,
            train_shingles=shd.filter(F.col("id") % 10 != 0),
            eval_shingles=shd.filter(F.col("id") % 10 == 0).select("shingle"),
        )
        assert sorted(map(tuple, c.collect())) == sorted(map(tuple, d.collect()))


class TestWeightedMixProperty:
    def test_random_configs_match_python_reference(self, spark):
        """weighted_mix vs a direct Python reference of the same md5
        arithmetic — guards the sequence fan-out and keep-condition logic
        across integer/fractional/over-1 rates."""
        import hashlib
        import math
        import random

        from oni_ml_spark.datapipe.sampling import weighted_mix

        def bucket(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)  # [0, 2^32)

        rng = random.Random(31)
        rows = [(i, f"s{i % 4}") for i in range(80)]
        df = spark.createDataFrame(rows, "k long, source string")
        counts = {f"s{j}": sum(1 for _, s in rows if s == f"s{j}") for j in range(4)}
        for trial in range(3):
            weights = {f"s{j}": rng.choice([0.5, 1.0, 2.0, 3.5]) for j in range(rng.randint(1, 4))}
            total = rng.choice([10, 55, 160])
            wsum = sum(weights.values())
            want = set()
            for k, s in rows:
                if s not in weights:
                    continue
                rate = (float(total) * float(weights[s]) / wsum) / counts[s]
                if rate <= 0:
                    continue
                for epoch in range(1, math.ceil(rate) + 1):
                    keep = epoch <= math.floor(rate) or (
                        epoch == math.ceil(rate)
                        and bucket(f"{k}#mix{epoch}")
                        < (rate - math.floor(rate)) * float(1 << 32)
                    )
                    if keep:
                        want.add((k, s, epoch))
            got = {
                (r["k"], r["source"], r["epoch"])
                for r in weighted_mix(df, "source", "k", weights, total).collect()
            }
            assert got == want, f"trial {trial}: {weights} total={total}"


class TestCube:
    def test_cube_matches_duckdb_grouping_sets(self, spark):
        """CUBE hierarchical aggregates (beyond the reference's plain
        groupBy, sibling of the rollup_agg battery entry) — all four
        grouping sets vs DuckDB's native CUBE."""
        import duckdb

        from oni_ml_spark.io import load_table

        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        got = sorted(
            (r["rf"], r["ls"], r["cnt"])
            for r in li.cube("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                "cnt",
            )
            .collect()
        )
        con = duckdb.connect()
        want = sorted(
            tuple(r)
            for r in con.execute(
                "SELECT coalesce(l_returnflag, 'ALL'), coalesce(l_linestatus, 'ALL'), "
                "count(*) FROM '/root/testdata/sf0.001/lineitem.parquet' "
                "GROUP BY CUBE (l_returnflag, l_linestatus)"
            ).fetchall()
        )
        assert got == want


class TestIncrementalLshIndex:
    def test_new_batch_dedups_against_persisted_index(self, spark, tmp_path):
        """The daily-ingest pattern: index a corpus once, persist signatures,
        then check a new batch against it without re-shingling old text."""
        from oni_ml_spark.datapipe.dedup import incremental_near_dups, lsh_index

        base = "the quick brown fox jumps over the lazy dog again and again in the park"
        corpus = spark.createDataFrame(
            [(0, base),
             (1, "completely different text about spark query engines and shuffles"),
             (2, "another unrelated document mentioning entropy and quantiles only")],
            "doc_id long, text string",
        )
        idx_path = str(tmp_path / "lsh_index")
        lsh_index(corpus, "doc_id", "text").write.parquet(idx_path)
        index = spark.read.parquet(idx_path)

        new_batch = spark.createDataFrame(
            [(100, base.replace("park", "yard")),   # near-dup of doc 0
             (101, "a totally novel story about gardens and rivers flowing north")],
            "doc_id long, text string",
        )
        hits = incremental_near_dups(
            new_batch, index, "doc_id", "text", threshold=0.5
        ).collect()
        pairs = {(r["new_id"], r["index_id"]): r["est_jaccard"] for r in hits}
        assert (100, 0) in pairs
        assert all(nid != 101 for nid, _ in pairs)
        assert 0.5 <= pairs[(100, 0)] <= 1.0

    def test_estimate_tracks_true_jaccard_and_exact_dup_is_one(self, spark):
        from oni_ml_spark.datapipe.dedup import incremental_near_dups, lsh_index

        t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus = spark.createDataFrame([(0, t)], "doc_id long, text string")
        index = lsh_index(corpus, "doc_id", "text")
        new = spark.createDataFrame([(9, t)], "doc_id long, text string")
        out = incremental_near_dups(new, index, "doc_id", "text", threshold=0.9).collect()
        assert len(out) == 1 and out[0]["est_jaccard"] == 1.0

    def test_bands_must_divide_hashes(self, spark):
        import pytest as _pytest

        from oni_ml_spark.datapipe.dedup import incremental_near_dups, lsh_index

        df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            incremental_near_dups(df, lsh_index(df, "doc_id", "text"),
                                  "doc_id", "text", num_hashes=16, bands=5)


class TestParagraphDedupProperty:
    def test_random_corpora_match_python_reference(self, spark):
        """Randomized paragraph_dedup vs an explicit Python reference:
        first-occurrence survival by (id, pos) over normalized units,
        in-order reassembly, empty-doc handling."""
        import random
        import re

        from oni_ml_spark.datapipe.dedup import paragraph_dedup

        rng = random.Random(41)
        units = ["alpha one", "Beta two", "gamma  three", "delta four", "epsilon"]
        for trial in range(3):
            docs = []
            for i in range(25):
                k = rng.randint(0, 4)
                paras = [rng.choice(units) for _ in range(k)]
                docs.append((i, "\n\n".join(paras)))
            # python reference
            def norm(s):
                return re.sub(r"\s+", " ", s.lower()).strip()

            seen = {}
            for i, text in docs:
                ps = [p for p in re.split(r"\n{2,}", text) if len(p.strip()) >= 1] if text else []
                for pos, p in enumerate(ps):
                    seen.setdefault(norm(p), (i, pos))
            want = {}
            for i, text in docs:
                ps = [p for p in re.split(r"\n{2,}", text) if len(p.strip()) >= 1] if text else []
                kept = [p for pos, p in enumerate(ps) if seen[norm(p)] == (i, pos)]
                want[i] = ("\n\n".join(kept), len(ps), len(kept))
            df = spark.createDataFrame(docs, "doc_id long, text string")
            got = {
                r["id"]: (r["text"], r["n_units"], r["n_units_kept"])
                for r in paragraph_dedup(df, "doc_id", "text").collect()
            }
            assert got == want, f"trial {trial}"


class TestIvfIndexPersistence:
    def test_persisted_index_search_equals_inline(self, spark, tmp_path):
        from oni_ml_spark.datapipe.similarity import (
            as_double_array,
            build_ivf_index,
            ivf_kmeans_topk,
            ivf_search,
        )
        from oni_ml_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
            "vec_id", as_double_array("embedding").alias("embedding")
        )
        q = emb.filter(F.col("vec_id") < 5)
        inline = sorted(
            tuple(r) for r in ivf_kmeans_topk(q, emb, k=5, n_cells=8, n_probe=3).collect()
        )
        cent, assigned = build_ivf_index(emb, n_cells=8)
        cp, ap = str(tmp_path / "cent"), str(tmp_path / "assigned")
        cent.write.parquet(cp)
        assigned.write.parquet(ap)
        reloaded = sorted(
            tuple(r)
            for r in ivf_search(
                q, spark.read.parquet(cp), spark.read.parquet(ap), k=5, n_probe=3
            ).collect()
        )
        assert reloaded == inline
        assert len(reloaded) > 0


class TestLshIndexParamMismatch:
    def test_wrong_num_hashes_raises_instead_of_silent_misses(self, spark):
        """An index persisted with num_hashes=8 queried at 16 used to cap
        the Jaccard estimate at 0.5 (null-padded zip) and silently drop
        even exact duplicates; now the in-plan assert raises."""
        from oni_ml_spark.datapipe.dedup import incremental_near_dups, lsh_index

        t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus = spark.createDataFrame([(0, t)], "doc_id long, text string")
        index8 = lsh_index(corpus, "doc_id", "text", num_hashes=8)
        new = spark.createDataFrame([(9, t)], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(Exception, match="signature length"):
            incremental_near_dups(
                new, index8, "doc_id", "text", num_hashes=16
            ).collect()

    def test_bands_check_lives_in_shared_helper(self, spark):
        import pytest as _pytest

        from oni_ml_spark.datapipe.dedup import minhash_lsh_candidates

        df = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            minhash_lsh_candidates(df, "doc_id", "text", num_hashes=16, bands=5)


class TestDeterministicShuffle:
    def test_stable_permutation_and_seed_independence(self, spark):
        import duckdb

        from oni_ml_spark.datapipe.sampling import deterministic_shuffle
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        o1 = [r["doc_id"] for r in deterministic_shuffle(d, "doc_id", 0).select("doc_id").collect()]
        o2 = [r["doc_id"] for r in deterministic_shuffle(d, "doc_id", 0).select("doc_id").collect()]
        o3 = [r["doc_id"] for r in deterministic_shuffle(d, "doc_id", 1).select("doc_id").collect()]
        assert o1 == o2                       # run-stable
        assert o1 != o3                       # seed changes the permutation
        assert sorted(o1) == sorted(o3)       # same row set
        assert o1 != sorted(o1)               # actually shuffled
        # engine-portable: DuckDB derives the identical order
        con = duckdb.connect()
        want = [
            r[0] for r in con.execute(
                "SELECT doc_id FROM '/root/testdata/sf0.001/documents.parquet' "
                "ORDER BY md5(doc_id::VARCHAR || '#shuffle0'), doc_id"
            ).fetchall()
        ]
        assert o1 == want


class TestWeightedMixGuards:
    def test_copy_col_collision_rejected(self, spark):
        import pytest as _pytest

        from oni_ml_spark.datapipe.sampling import weighted_mix

        df = spark.createDataFrame(
            [(1, "a", 1)], "k long, source string, epoch long"
        )
        with _pytest.raises(ValueError, match="copy_col"):
            weighted_mix(df, "source", "k", {"a": 1.0}, total_rows=5)
        # a non-colliding name works
        out = weighted_mix(
            df, "source", "k", {"a": 1.0}, total_rows=5, copy_col="mix_epoch"
        )
        assert "mix_epoch" in out.columns


class TestGlobalSample:
    def test_deterministic_take_ordered_plan(self, spark):
        from oni_ml_spark.datapipe.sampling import deterministic_global_sample
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        s1 = sorted(r["doc_id"] for r in deterministic_global_sample(d, "doc_id", 25).collect())
        s2 = sorted(r["doc_id"] for r in deterministic_global_sample(d, "doc_id", 25).collect())
        assert s1 == s2 and len(s1) == 25
        # independent of the per-group sampler's picks (different salt)
        plan = (
            deterministic_global_sample(d, "doc_id", 25)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Exchange SinglePartition" not in plan
        import pytest as _pytest

        with _pytest.raises(ValueError):
            deterministic_global_sample(d, "doc_id", 0)


class TestSentenceLevelDedup:
    def test_paragraph_dedup_generalizes_to_sentences(self, spark):
        """Sentence-level exact dedup is paragraph_dedup with a sentence
        separator — the unit-dedup core is separator-agnostic. The repeated
        boilerplate sentence survives only at its first occurrence."""
        from oni_ml_spark.datapipe.dedup import paragraph_dedup

        boiler = "Subscribe to our newsletter today."
        rows = [
            (0, f"Alpha fact one. {boiler} Alpha fact two."),
            (1, f"{boiler} Beta content here."),
            (2, "Gamma only, nothing shared."),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["id"]: r["text"]
            for r in paragraph_dedup(
                df, "doc_id", "text", sep=r"(?<=[.!?])\s+", joiner=" "
            ).collect()
        }
        assert "Subscribe" in out[0]                    # first occurrence kept
        assert "subscribe" not in out[1].lower()        # later occurrence dropped
        assert "Beta content here." in out[1]
        assert out[2] == "Gamma only, nothing shared."  # untouched, original text


class TestLeakageSafeSplit:
    """Splitting by near-dup cluster: no duplicate component may straddle a
    split boundary, and non-duplicate rows assign exactly as plain
    hash_split would."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        # 200 unique docs + 30 planted paraphrase groups of 3 (ids far apart
        # so row-level hashing WOULD scatter them across splits)
        base = [(i, f"unique document number {i} with its own words {i*7}") for i in range(200)]
        dups = []
        for g in range(30):
            text = f"shared paraphrase group {g} " + " ".join(
                f"tok{g}_{j}" for j in range(12)
            )
            for member in range(3):
                dups.append((1000 + g + member * 1000, text + ("" if member == 0 else " !")))
        return spark.createDataFrame(base + dups, "doc_id bigint, text string")

    def test_no_cluster_straddles_splits(self, spark, corpus):
        from oni_ml_spark.datapipe.sampling import leakage_safe_split

        out = leakage_safe_split(
            corpus, "doc_id", "text",
            {"train": 0.8, "val": 0.1, "test": 0.1},
            n=3, num_hashes=12, bands=6, threshold=0.5,
        )
        rows = out.select("cluster", "split").collect()
        per_cluster = {}
        for r in rows:
            per_cluster.setdefault(r["cluster"], set()).add(r["split"])
        assert all(len(s) == 1 for s in per_cluster.values())
        # the planted groups actually clustered (guard against a vacuous pass)
        from collections import Counter

        sizes = Counter()
        for r in out.select("cluster").collect():
            sizes[r["cluster"]] += 1
        assert sum(1 for c, n in sizes.items() if n >= 3) >= 25

    def test_singletons_match_plain_hash_split(self, spark, corpus):
        from oni_ml_spark.datapipe.sampling import hash_split, leakage_safe_split

        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
        out = leakage_safe_split(
            corpus, "doc_id", "text", splits,
            n=3, num_hashes=12, bands=6, threshold=0.5,
        )
        plain = {
            r["doc_id"]: r["split"]
            for r in hash_split(corpus, "doc_id", splits).collect()
        }
        for r in out.where("cluster = doc_id AND doc_id < 1000").collect():
            # self-cluster rows: guard changes nothing vs plain hash_split
            assert r["split"] == plain[r["doc_id"]], r["doc_id"]

    def test_precomputed_clusters_and_validation(self, spark, corpus):
        from oni_ml_spark.datapipe.dedup import near_dup_clusters
        from oni_ml_spark.datapipe.sampling import leakage_safe_split

        splits = {"train": 0.5, "test": 0.5}
        clusters = near_dup_clusters(
            corpus, "doc_id", "text", n=3, num_hashes=12, bands=6, threshold=0.5
        ).localCheckpoint(eager=True)
        a = leakage_safe_split(corpus, "doc_id", "text", splits, clusters=clusters)
        b = leakage_safe_split(
            corpus, "doc_id", "text", splits,
            n=3, num_hashes=12, bands=6, threshold=0.5,
        )
        assert sorted(map(str, (tuple(r) for r in a.collect()))) == sorted(
            map(str, (tuple(r) for r in b.collect()))
        )
        with pytest.raises(ValueError, match="clusters frame lacks"):
            leakage_safe_split(
                corpus, "doc_id", "text", splits,
                clusters=clusters.select(F.col("id").alias("x")),
            )
        # kwargs alongside a precomputed table are dead parameters: raise
        with pytest.raises(ValueError, match="ignored"):
            leakage_safe_split(
                corpus, "doc_id", "text", splits, clusters=clusters, threshold=0.9
            )
        # column collisions raise instead of emitting ambiguous columns
        with pytest.raises(ValueError, match="collide"):
            leakage_safe_split(
                corpus.withColumn("cluster", F.lit(1)), "doc_id", "text", splits
            )
        with pytest.raises(ValueError, match="collide"):
            leakage_safe_split(corpus, "doc_id", "text", splits, split_col="text")

    def test_no_silent_row_loss(self, spark, corpus):
        """Null-id rows and rows a stale precomputed clusters table misses
        keep their plain row-level assignment instead of vanishing
        (review-confirmed silent loss, now guarded)."""
        from oni_ml_spark.datapipe.dedup import near_dup_clusters
        from oni_ml_spark.datapipe.sampling import hash_split, leakage_safe_split

        splits = {"train": 0.5, "test": 0.5}
        with_null = spark.createDataFrame(
            [(1, "doc one"), (None, "doc with null id"), (3, "doc three")],
            "doc_id bigint, text string",
        )
        out = leakage_safe_split(
            with_null, "doc_id", "text", splits,
            n=3, num_hashes=12, bands=6, threshold=0.5,
        )
        assert out.count() == 3  # nothing dropped
        # stale precomputed table covering only part of the corpus
        stale = near_dup_clusters(
            corpus.where("doc_id < 50"), "doc_id", "text",
            n=3, num_hashes=12, bands=6, threshold=0.5,
        ).localCheckpoint(eager=True)
        out2 = leakage_safe_split(corpus, "doc_id", "text", splits, clusters=stale)
        assert out2.count() == corpus.count()  # uncovered rows kept
        plain = {
            r["doc_id"]: r["split"]
            for r in hash_split(corpus, "doc_id", splits).collect()
        }
        # uncovered rows fall back to their own id = plain assignment
        for r in out2.where("doc_id >= 50").collect():
            assert r["split"] == plain[r["doc_id"]]


class TestSemanticContamination:
    """Bipartite SRP-bucketed contamination vs a brute-force cosine oracle:
    paraphrase-shaped hits (scaled/perturbed eval vectors) are flagged,
    unrelated vectors survive, removal anti-joins exactly the flagged set."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        import math
        import random

        rnd = random.Random(11)
        dim = 8

        def unit(seed):
            r = random.Random(seed)
            v = [r.gauss(0, 1) for _ in range(dim)]
            n = math.sqrt(sum(x * x for x in v))
            return [x / n for x in v]

        evals = [(100 + i, unit(i)) for i in range(5)]
        corpus = []
        # planted: scaled copy of eval 101 and eval 103 (cosine exactly 1)
        corpus.append((1, [x * 3.0 for x in evals[1][1]]))
        corpus.append((2, [x * 0.5 for x in evals[3][1]]))
        # perturbed copy of eval 100 (cosine ~0.995)
        base = evals[0][1]
        pert = [x + rnd.gauss(0, 0.03) for x in base]
        corpus.append((3, pert))
        # unrelated vectors
        for i in range(4, 40):
            corpus.append((i, unit(1000 + i)))
        ev = spark.createDataFrame(evals, "vec_id bigint, embedding array<double>")
        co = spark.createDataFrame(corpus, "vec_id bigint, embedding array<double>")
        return co, ev

    def _oracle(self, co, ev, threshold):
        import math

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        hits = {}
        for c in co.collect():
            best = None
            for e in ev.collect():
                s = cos(c["embedding"], e["embedding"])
                if s >= threshold and (best is None or (s, e["vec_id"]) > best):
                    best = (s, e["vec_id"])
            if best is not None:
                hits[c["vec_id"]] = best
        return hits

    def test_matches_brute_force_oracle(self, spark, frames):
        from oni_ml_spark.datapipe.similarity import semantic_contamination

        co, ev = frames
        got = {
            r["id"]: (r["sim"], r["eval_id"])
            for r in semantic_contamination(
                co, ev, threshold=0.95, dim=8
            ).collect()
        }
        want = self._oracle(co, ev, 0.95)
        assert set(got) == set(want)
        assert {1, 2, 3} <= set(got)  # all three planted hits caught
        for k, (sim, eid) in want.items():
            assert got[k][1] == eid
            assert abs(got[k][0] - round(sim, 4)) < 1e-9

    def test_removal_and_broadcast_off_parity(self, spark, frames):
        from oni_ml_spark.datapipe.similarity import (
            remove_semantically_contaminated,
            semantic_contamination,
        )

        co, ev = frames
        kept = remove_semantically_contaminated(co, ev, threshold=0.95, dim=8)
        flagged = {
            r["id"]
            for r in semantic_contamination(co, ev, threshold=0.95, dim=8).collect()
        }
        assert {r["vec_id"] for r in kept.collect()} == {
            r["vec_id"] for r in co.collect()
        } - flagged
        # broadcast hint off: identical result
        off = {
            r["id"]
            for r in semantic_contamination(
                co, ev, threshold=0.95, dim=8, broadcast_eval=False
            ).collect()
        }
        assert off == flagged

    def test_dim_mismatch_fails_loudly(self, spark, frames):
        from oni_ml_spark.datapipe.similarity import semantic_contamination

        co, ev = frames
        with pytest.raises(Exception, match="embedding length"):
            semantic_contamination(co, ev, threshold=0.95, dim=16).collect()

    def test_zero_norm_vectors_excluded_not_crashing(self, spark, frames):
        """An all-zero embedding (empty doc / failed embedding call) must
        not kill the job with an ANSI DIVIDE_BY_ZERO — it buckets to 0 in
        every band, so it WILL collide; it is excluded instead (cosine is
        undefined for it). Review-confirmed crash, now guarded."""
        from oni_ml_spark.datapipe.similarity import semantic_contamination

        co, ev = frames
        co_z = co.unionByName(
            spark.createDataFrame(
                [(999, [0.0] * 8)], "vec_id bigint, embedding array<double>"
            )
        )
        ev_z = ev.unionByName(
            spark.createDataFrame(
                [(900, [0.0] * 8)], "vec_id bigint, embedding array<double>"
            )
        )
        got = {
            r["id"] for r in semantic_contamination(co_z, ev_z, threshold=0.95, dim=8).collect()
        }
        assert 999 not in got and {1, 2, 3} <= got

    def test_corpus_never_shuffles_with_broadcast_eval(self, spark, frames):
        """The broadcast_eval contract, locked as a plan assert: no
        sort-merge join, and the only shuffle is the final per-id max over
        hit rows (the review caught the first formulation hash-shuffling
        the full corpus payload through a join back to itself)."""
        from oni_ml_spark.datapipe.similarity import semantic_contamination
        from oni_ml_spark.plans.diagnostics import assert_plan

        co, ev = frames
        out = semantic_contamination(co, ev, threshold=0.95, dim=8)
        assert_plan(out, max_exchanges=1, forbid=["SortMergeJoin"])

class TestWeightedSampleK:
    """A-ES weighted sampling: determinism, weight bias, per-group k,
    zero/negative-weight contracts, TakeOrderedAndProject plan."""

    @pytest.fixture(scope="class")
    def pop(self, spark):
        return spark.createDataFrame(
            [(i, 100.0 if i == 0 else 1.0) for i in range(200)],
            "id bigint, w double",
        )

    def test_deterministic_and_partition_invariant(self, spark, pop):
        from oni_ml_spark.datapipe.sampling import weighted_sample_k

        a = {r["id"] for r in weighted_sample_k(pop, "id", "w", 20).collect()}
        b = {
            r["id"]
            for r in weighted_sample_k(pop.repartition(7), "id", "w", 20).collect()
        }
        assert a == b and len(a) == 20
        c = {r["id"] for r in weighted_sample_k(pop, "id", "w", 20, salt="x").collect()}
        assert c != a  # a different salt is an independent redraw

    def test_weight_bias(self, spark, pop):
        """Item with weight 100 vs 199 unit-weight items: P(selected into a
        k=20 sample) is ~1 vs ~0.1 for a unit item. Across 30 salts the
        heavy item must dominate (binomially, 30/30 with prob ~1; even 25+
        is overwhelming evidence the weights act)."""
        from oni_ml_spark.datapipe.sampling import weighted_sample_k

        hits = 0
        for s in range(30):
            got = {
                r["id"]
                for r in weighted_sample_k(pop, "id", "w", 20, salt=str(s)).collect()
            }
            hits += 0 in got
        assert hits >= 25

    def test_per_group_k_and_zero_weight(self, spark):
        from oni_ml_spark.datapipe.sampling import weighted_sample_k

        df = spark.createDataFrame(
            [(g, i, 0.0 if i == 0 else float(i)) for g in ("a", "b") for i in range(10)],
            "g string, id bigint, w double",
        )
        got = weighted_sample_k(df, "id", "w", 3, group_cols="g")
        rows = got.collect()
        assert len(rows) == 6
        assert all(r["w"] > 0 for r in rows)  # zero-weight rows never sampled
        per = {}
        for r in rows:
            per.setdefault(r["g"], 0)
            per[r["g"]] += 1
        assert per == {"a": 3, "b": 3}
        # k >= positive-weight population: everything positive comes back
        allr = weighted_sample_k(df, "id", "w", 100, group_cols="g").collect()
        assert len(allr) == 18

    def test_negative_weight_raises_and_validation(self, spark):
        from oni_ml_spark.datapipe.sampling import weighted_sample_k

        df = spark.createDataFrame([(1, -1.0)], "id bigint, w double")
        with pytest.raises(Exception, match="must be >= 0"):
            weighted_sample_k(df, "id", "w", 1).collect()
        with pytest.raises(ValueError, match="k must"):
            weighted_sample_k(df, "id", "w", 0)
        with pytest.raises(ValueError, match="missing"):
            weighted_sample_k(df, "nope", "w", 1)

    def test_global_plan_is_take_ordered(self, spark, pop):
        from oni_ml_spark.datapipe.sampling import weighted_sample_k
        from oni_ml_spark.plans.diagnostics import plan_report

        rep = plan_report(weighted_sample_k(pop, "id", "w", 5))
        assert rep["nodes"].get("TakeOrderedAndProject"), rep["nodes"]


class TestSelectToTokenBudget:
    """Greedy token-budget selection vs the DuckDB prefix-cumsum oracle:
    bucket arithmetic + boundary window must equal the naive global
    running sum exactly, for budgets landing inside and between buckets."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        # 300 docs, quality with heavy ties (only 30 distinct values) so
        # boundary buckets actually hold several rows; varied token sizes
        rows = [
            (i, float(i % 30), 50 + (i * 37) % 200)
            for i in range(300)
        ]
        return spark.createDataFrame(rows, "id bigint, q double, toks bigint")

    def _oracle_ids(self, pdf, budget):
        import duckdb

        got = duckdb.sql(
            f"""
            SELECT id FROM (
              SELECT id, sum(toks) OVER (
                ORDER BY q DESC, xhash ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS run
              FROM pdf
            ) WHERE run <= {budget}
            """
        ).fetchall()
        return {r[0] for r in got}

    @pytest.mark.parametrize("budget", [500, 4_000, 17_777, 30_000])
    def test_matches_prefix_cumsum_oracle(self, spark, corpus, budget):
        from oni_ml_spark.datapipe.sampling import select_to_token_budget

        got = select_to_token_budget(
            corpus, "toks", budget, quality_col="q", id_col="id", n_buckets=16
        )
        # oracle needs Spark's xxhash64 tie-break values
        pdf = corpus.select(
            "id", "q", "toks", F.xxhash64(F.col("id")).alias("xhash")
        ).toPandas()
        want = self._oracle_ids(pdf, budget)
        ids = {r["id"] for r in got.collect()}
        assert ids == want
        total = sum(r["toks"] for r in got.collect())
        assert total <= budget

    def test_boundary_drop_stays_under_budget(self, spark, corpus):
        from oni_ml_spark.datapipe.sampling import select_to_token_budget

        exact = select_to_token_budget(
            corpus, "toks", 9_000, quality_col="q", id_col="id", n_buckets=16
        )
        dropped = select_to_token_budget(
            corpus, "toks", 9_000, quality_col="q", id_col="id", n_buckets=16,
            boundary="drop",
        )
        e = {r["id"] for r in exact.collect()}
        d = {r["id"] for r in dropped.collect()}
        assert d <= e  # drop is a subset: whole-bucket granularity
        assert sum(r["toks"] for r in dropped.collect()) <= 9_000

    def test_validation_and_edges(self, spark, corpus):
        from oni_ml_spark.datapipe.sampling import select_to_token_budget

        with pytest.raises(ValueError, match="budget"):
            select_to_token_budget(corpus, "toks", 0, quality_col="q", id_col="id")
        with pytest.raises(ValueError, match="missing"):
            select_to_token_budget(corpus, "nope", 10, quality_col="q", id_col="id")
        with pytest.raises(ValueError, match="boundary"):
            select_to_token_budget(
                corpus, "toks", 10, quality_col="q", id_col="id", boundary="x"
            )
        # boundary-row cap refuses instead of building a giant window
        with pytest.raises(ValueError, match="max_boundary_rows"):
            select_to_token_budget(
                corpus, "toks", 500, quality_col="q", id_col="id",
                n_buckets=16, max_boundary_rows=2,
            )
        # all-equal quality: one bucket, still exact vs oracle
        eq = corpus.withColumn("q", F.lit(1.0))
        got = select_to_token_budget(
            eq, "toks", 3_000, quality_col="q", id_col="id", n_buckets=16
        )
        pdf = eq.select(
            "id", "q", "toks", F.xxhash64(F.col("id")).alias("xhash")
        ).toPandas()
        assert {r["id"] for r in got.collect()} == self._oracle_ids(pdf, 3_000)
        # null quality raises in-plan
        bad = corpus.withColumn(
            "q", F.when(F.col("id") == 7, F.lit(None)).otherwise(F.col("q"))
        )
        with pytest.raises(Exception, match="null/NaN/infinite q"):
            select_to_token_budget(bad, "toks", 100, quality_col="q", id_col="id")


def test_weighted_sample_null_keys_and_reserved_cols(spark):
    """Null-key rows are excluded (they all hash identically — no
    deterministic draw exists); reserved __aes_rn/rank columns are
    rejected up front (review findings)."""
    from oni_ml_spark.datapipe.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(None, 5.0), (1, 1.0), (2, 1.0)], "id bigint, w double"
    )
    got = weighted_sample_k(df, "id", "w", 10)
    assert {r["id"] for r in got.collect()} == {1, 2}
    with pytest.raises(ValueError, match="reserved"):
        weighted_sample_k(df.withColumn("__aes_rn", F.lit(1)), "id", "w", 1)
    # grouped path delegates to grouped_topk; result columns unchanged
    gdf = spark.createDataFrame(
        [("a", i, 1.0) for i in range(10)], "g string, id bigint, w double"
    )
    out = weighted_sample_k(gdf, "id", "w", 3, group_cols="g")
    assert out.columns == ["g", "id", "w"] and out.count() == 3


def test_token_budget_reserved_and_infinite_quality(spark):
    from oni_ml_spark.datapipe.sampling import select_to_token_budget

    df = spark.createDataFrame(
        [(i, float(i), 10) for i in range(20)], "id bigint, q double, toks bigint"
    )
    with pytest.raises(ValueError, match="reserved"):
        select_to_token_budget(
            df.withColumn("__tb_q", F.lit(1)), "toks", 50,
            quality_col="q", id_col="id",
        )
    inf_df = df.withColumn(
        "q", F.when(F.col("id") == 3, F.lit(float("inf"))).otherwise(F.col("q"))
    )
    with pytest.raises(Exception, match="infinite"):
        select_to_token_budget(inf_df, "toks", 50, quality_col="q", id_col="id")
