"""StageRunner resume, event log guards, input readers, hygiene
filters, multimodal plumbing, date parsing, substring-verify legs."""

import json
import os

import pytest
from pyspark.sql import functions as F

from photo_dedup_spark.plans.checkpoint import StageRunner


class TestStageRunner:
    def test_resume_skips_completed_prefix(self, spark, tmp_path):
        calls = []

        def mk(name, n):
            def build():
                calls.append(name)
                return spark.range(n)

            return build

        r1 = StageRunner(spark, str(tmp_path), "cfgA")
        r1.run("s0", mk("s0", 5))
        r1.run("s1", mk("s1", 7))
        assert calls == ["s0", "s1"]

        # rerun: both stages valid → zero rebuilds
        r2 = StageRunner(spark, str(tmp_path), "cfgA")
        df0 = r2.run("s0", mk("s0", 5))
        df1 = r2.run("s1", mk("s1", 7))
        assert calls == ["s0", "s1"]
        assert df0.count() == 5 and df1.count() == 7
        assert all(res.reused for res in r2.results)

    def test_config_change_invalidates(self, spark, tmp_path):
        calls = []
        r1 = StageRunner(spark, str(tmp_path), "cfgA")
        r1.run("s0", lambda: (calls.append("s0"), spark.range(3))[1])
        r2 = StageRunner(spark, str(tmp_path), "cfgB")
        r2.run("s0", lambda: (calls.append("s0b"), spark.range(3))[1])
        assert calls == ["s0", "s0b"]

    def test_broken_prefix_invalidates_suffix(self, spark, tmp_path):
        """Longest-valid-prefix: if s0 is invalid, a still-valid-looking
        s1 checkpoint must NOT be reused (stale suffix)."""
        r1 = StageRunner(spark, str(tmp_path), "cfgA")
        r1.run("s0", lambda: spark.range(3))
        r1.run("s1", lambda: spark.range(4))
        # corrupt s0's metrics → invalid
        os.remove(os.path.join(str(tmp_path), "s0", "_metrics.json"))
        calls = []
        r2 = StageRunner(spark, str(tmp_path), "cfgA")
        r2.run("s0", lambda: (calls.append("s0"), spark.range(3))[1])
        r2.run("s1", lambda: (calls.append("s1"), spark.range(4))[1])
        assert calls == ["s0", "s1"]

    def test_half_written_checkpoint_not_reused(self, spark, tmp_path):
        """Incomplete-log-guard analog (cleaner.py:694-705): data without
        finalized metrics is recomputed, never trusted."""
        d = tmp_path / "s0" / "data"
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()  # parquet marker but no metrics file
        calls = []
        r = StageRunner(spark, str(tmp_path), "cfgA")
        r.run("s0", lambda: (calls.append("s0"), spark.range(3))[1])
        assert calls == ["s0"]


class TestStagedPipeline:
    @pytest.mark.parametrize("source", ["createDataFrame", "parquet"])
    def test_staged_matches_inmemory_and_resumes(
        self, spark, files_df, cfg, tmp_path, source
    ):
        """Both materialization policies over one input.  The parquet
        scan is small, so the widen, broadcast-reps, narrow-pairs and
        16-tile verify branches run under both policies; the
        ``createDataFrame`` frame has no file scan, so both run the
        at-scale side of all four."""
        from photo_dedup_spark.pipeline import (
            NARROW_PAIRS_MAX_INPUT_BYTES,
            _input_bytes,
            run_pipeline,
        )
        from photo_dedup_spark.staged import run_staged_pipeline

        if source == "parquet":
            path = str(tmp_path / "files.parquet")
            files_df.write.parquet(path)
            files_df = spark.read.parquet(path)
            # small enough for every size-gated branch to fire
            assert _input_bytes(files_df) < NARROW_PAIRS_MAX_INPUT_BYTES

        mem = run_pipeline(spark, files_df, cfg, mode="hybrid", collect_metrics=False)
        expected = {
            (r.repo, r.path): (r.cluster_id, r.is_keep)
            for r in mem.assignments.select("repo", "path", "cluster_id", "is_keep").collect()
        }
        got_df, runner = run_staged_pipeline(spark, files_df, str(tmp_path / "wd"), cfg)
        got = {
            (r.repo, r.path): (r.cluster_id, r.is_keep)
            for r in got_df.select("repo", "path", "cluster_id", "is_keep").collect()
        }
        assert got == expected
        assert not any(r.reused for r in runner.results)

        # resume: all stages reused, identical output (SURVEY §5.2.5)
        got2_df, runner2 = run_staged_pipeline(spark, files_df, str(tmp_path / "wd"), cfg)
        got2 = {
            (r.repo, r.path): (r.cluster_id, r.is_keep)
            for r in got2_df.select("repo", "path", "cluster_id", "is_keep").collect()
        }
        assert got2 == expected
        assert [r.reused for r in runner2.results] == [True] * 7


class TestEventLog:
    def _plan(self, spark):
        rows = [
            (1, "move", "a.py", "_duplicates_backup/a.py", 10),
            (2, "rename", "b.py", "c.py", 10),
            (3, "skip", "d.py", "e.py", 11),
        ]
        return spark.createDataFrame(
            rows, "seq long, action string, src string, dst string, cluster_id long"
        )

    def test_roundtrip_and_undo_order(self, spark, tmp_path):
        from photo_dedup_spark.operators.plan import undo_plan
        from photo_dedup_spark.sources.eventlog import (
            load_events,
            set_status,
            write_events,
        )

        d = str(tmp_path / "log")
        write_events(self._plan(spark), d)
        set_status(d, "complete")
        meta, ev = load_events(spark, d)
        assert meta["status"] == "complete"
        undo = [(r.action, r.src) for r in undo_plan(ev).orderBy("seq").collect()]
        # reversed, skip dropped
        assert undo == [("undo_rename", "c.py"), ("undo_move", "_duplicates_backup/a.py")]

    def test_in_progress_guard(self, spark, tmp_path):
        from photo_dedup_spark.sources.eventlog import (
            EventLogError,
            guard_not_in_progress,
            write_events,
        )

        d = str(tmp_path / "log")
        write_events(self._plan(spark), d, status="in_progress")
        with pytest.raises(EventLogError):
            guard_not_in_progress(d)

    def test_backward_transition_rejected(self, spark, tmp_path):
        from photo_dedup_spark.sources.eventlog import (
            EventLogError,
            set_status,
            write_events,
        )

        d = str(tmp_path / "log")
        write_events(self._plan(spark), d, status="in_progress")
        set_status(d, "complete")
        with pytest.raises(EventLogError):
            set_status(d, "in_progress")

    def test_counts_mismatch_rejected(self, spark, tmp_path):
        from photo_dedup_spark.sources.eventlog import (
            EventLogError,
            load_events,
            write_events,
        )

        d = str(tmp_path / "log")
        write_events(self._plan(spark), d)
        meta_path = os.path.join(d, "_meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        meta["counts"]["move"] = 99  # meta says more moves than logged
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        with pytest.raises(EventLogError):
            load_events(spark, d)

    def test_type_injection_rejected(self, spark, tmp_path):
        # malformed action value (test_core.py JSONL type-injection analog)
        from photo_dedup_spark.sources.eventlog import (
            EventLogError,
            load_events,
            write_events,
        )

        bad = spark.createDataFrame(
            [(1, "rm -rf", "a", "b", 1)],
            "seq long, action string, src string, dst string, cluster_id long",
        )
        d = str(tmp_path / "log")
        write_events(bad, d)
        with pytest.raises(EventLogError):
            load_events(spark, d)


    @pytest.mark.parametrize(
        "src,dst",
        [
            ("/abs/evil.py", "ok.py"),          # absolute src
            ("ok.py", "../escape.py"),          # traversal dst
            ("a/../b.py", "ok.py"),             # inner traversal
            ("C:drive.py", "ok.py"),            # drive-relative
            ("", "ok.py"),                      # empty
        ],
    )
    def test_unsafe_undo_paths_rejected(self, spark, tmp_path, src, dst):
        # C4 path-safety (cleaner.py:441-479 _validate_undo_entries):
        # the event stream is untrusted input to undo
        from photo_dedup_spark.sources.eventlog import (
            EventLogError,
            load_events,
            write_events,
        )

        bad = spark.createDataFrame(
            [(1, "rename", src, dst, 1)],
            "seq long, action string, src string, dst string, cluster_id long",
        )
        d = str(tmp_path / "log")
        write_events(bad, d)
        with pytest.raises(EventLogError, match="unsafe|malformed"):
            load_events(spark, d)

    def test_set_mtime_dst_is_not_a_path(self, spark, tmp_path):
        # set_mtime's dst carries a timestamp string — exempt from the
        # path predicate (it would false-positive on ':' etc.)
        from photo_dedup_spark.sources.eventlog import load_events, write_events

        ok = spark.createDataFrame(
            [(1, "set_mtime", "a/f.py", "2021-01-01T00:00:00Z", 1)],
            "seq long, action string, src string, dst string, cluster_id long",
        )
        d = str(tmp_path / "log")
        write_events(ok, d)
        _, ev = load_events(spark, d)
        assert ev.count() == 1

    def test_two_phase_actions_roundtrip(self, spark, tmp_path):
        from photo_dedup_spark.operators.plan import undo_plan
        from photo_dedup_spark.sources.eventlog import load_events, write_events

        plan = spark.createDataFrame(
            [
                (1, "rename_stage", "a.py", ".__dedup_tmp_ab12.py", 1),
                (2, "rename", "b.py", "c.py", 1),
                (3, "rename_final", ".__dedup_tmp_ab12.py", "b.py", 1),
            ],
            "seq long, action string, src string, dst string, cluster_id long",
        )
        d = str(tmp_path / "log")
        write_events(plan, d)
        _, ev = load_events(spark, d)
        assert [r.action for r in undo_plan(ev).orderBy("seq").collect()] == [
            "undo_rename_final",
            "undo_rename",
            "undo_rename_stage",
        ]


class TestReadFilesFailFast:
    """S3 typed fail-fast (reference scanner.py:48-74): misconfiguration
    raises, never silently falls back to another source kind."""

    def test_missing_parquet_raises_sourceerror(self, spark, tmp_path):
        from photo_dedup_spark.sources.io import SourceError, read_files

        with pytest.raises(SourceError, match="parquet path"):
            read_files(spark, str(tmp_path / "nope.parquet")).collect()

    def test_missing_table_ident_raises_sourceerror(self, spark):
        from photo_dedup_spark.sources.io import SourceError, read_files

        with pytest.raises(SourceError, match="iceberg table"):
            read_files(spark, "no_such_catalog_table").collect()

    def test_valid_parquet_reads(self, spark, tmp_path):
        from photo_dedup_spark.sources.io import read_files

        p = str(tmp_path / "t.parquet")
        spark.createDataFrame([(1,)], "x long").write.parquet(p)
        assert read_files(spark, p).count() == 1

    def test_orc_and_jsonl_read_by_extension(self, spark, tmp_path):
        """Extension-dispatched formats carry the same contract table."""
        from photo_dedup_spark.sources.io import read_files

        schema = "repo string, path string, commit string, lang string, content string"
        rows = [("r1", "a.py", "c1", "py", "print(1)"),
                ("r2", "b.py", "c2", "py", "print(2)")]
        df = spark.createDataFrame(rows, schema)
        orc = str(tmp_path / "t.orc")
        df.write.orc(orc)
        got = read_files(spark, orc)
        assert {r.path for r in got.collect()} == {"a.py", "b.py"}
        jsonl = str(tmp_path / "t.jsonl")
        df.write.json(jsonl)
        got = read_files(spark, jsonl)
        assert sorted(got.columns) == sorted(schema.replace(" string", "").split(", "))
        assert {r.repo for r in got.collect()} == {"r1", "r2"}

    def test_malformed_jsonl_fails_loudly(self, spark, tmp_path):
        """FAILFAST json: a corrupt line fails the read at action time
        — never a silently-null row (the strictness load_json_report
        applies to reports, cleaner.py:176-189)."""
        from photo_dedup_spark.sources.io import read_files

        d = tmp_path / "bad.jsonl"
        d.write_text('{"repo": "r1", "path": "a.py"}\n{not json at all\n')
        df = read_files(spark, str(d))
        with pytest.raises(Exception, match="(?i)malformed|failfast|corrupt"):
            df.collect()

    def test_orc_missing_raises_typed(self, spark, tmp_path):
        from photo_dedup_spark.sources.io import SourceError, read_files

        with pytest.raises(SourceError, match="orc path"):
            read_files(spark, str(tmp_path / "nope.orc")).collect()


class TestParseDates:
    """F5/F6 truth table vs reference metadata.py:40-60 semantics."""

    def test_multi_format_and_fallback(self, spark):
        from photo_dedup_spark.functions.dates import file_date, parse_datetime_multi
        from pyspark.sql import functions as F

        rows = [
            ("2021:03:05 10:11:12",),        # EXIF colon format
            ("2021-03-05 10:11:12",),        # dash
            ("2021/03/05 10:11:12",),        # slash
            ("  2021:03:05 10:11:12\x00\x00",),  # whitespace + NUL tail
            ("not a date",),
            ("",),
            (None,),
            ("2021:13:05 10:11:12",),        # month 13 → unparseable
        ]
        df = spark.createDataFrame(rows, "raw string").withColumn(
            "mtime", F.lit("2000-06-01 00:00:00").cast("timestamp")
        )
        out = df.select(
            "raw",
            parse_datetime_multi(F.col("raw")).alias("p"),
            file_date(F.col("raw"), F.col("mtime")).alias("eff"),
        ).collect()
        by_raw = {r.raw: r for r in out}
        want = "2021-03-05 10:11:12"
        for k in rows[:4]:
            assert str(by_raw[k[0]].p) == want, k
        for k in ("not a date", "", None, "2021:13:05 10:11:12"):
            assert by_raw[k].p is None
            assert str(by_raw[k].eff) == "2000-06-01 00:00:00"  # mtime fallback


class TestHygieneFilter:
    def test_skip_dirs_and_dotfiles(self, spark):
        from photo_dedup_spark.sources.io import hygiene_filter

        rows = [
            ("r", "src/main.py", "c", "py", "x"),
            ("r", ".hidden", "c", "py", "x"),
            ("r", "a/.git/config", "c", "py", "x"),
            ("r", "__pycache__/m.pyc", "c", "py", "x"),
            ("r", "a/_duplicates_backup/old.py", "c", "py", "x"),
            ("r", "a/.venv/lib.py", "c", "py", "x"),
            ("r", "gitty/file.py", "c", "py", "x"),  # not .git — kept
        ]
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        kept = {r.path for r in hygiene_filter(df).collect()}
        assert kept == {"src/main.py", "gitty/file.py"}

    def test_non_recursive_depth(self, spark):
        from photo_dedup_spark.sources.io import hygiene_filter

        rows = [("r", "top.py", "c", "py", "x"), ("r", "a/deep.py", "c", "py", "x")]
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        assert {r.path for r in hygiene_filter(df, recursive=False).collect()} == {
            "top.py"
        }


class TestMultimodal:
    def test_fake_decode_schema_and_determinism(self, spark):
        from photo_dedup_spark.functions.multimodal import (
            FEATURE_DIM,
            decode_image_features,
        )

        rows = [(1, bytearray(b"payload-one")), (2, bytearray(b"payload-two")), (3, None)]
        media = spark.createDataFrame(rows, "media_id long, payload binary")
        out1 = decode_image_features(media, fake=True).orderBy("media_id").collect()
        out2 = decode_image_features(media, fake=True).orderBy("media_id").collect()
        assert [r.features for r in out1] == [r.features for r in out2]
        assert len(out1[0].features) == FEATURE_DIM
        assert out1[0].width >= 64 and out1[0].channels == 3
        assert out1[2].features is None
        assert "null payload" in out1[2].decode_error

    def test_compressed_codec_gated(self, spark):
        from photo_dedup_spark.functions.multimodal import decode_image_features

        # LOSSY WebP (VP8 intra frames): lossless VP8L graduated to a
        # real decoder in round 4 (tests/test_webp.py), lossy pixel
        # decode stays gated — but since the round-5 container-metadata
        # tier (functions/containers.py) the row carries REAL
        # width/height parsed from the RFC 6386 keyframe header plus a
        # per-row "external" error; a TRUNCATED JPEG reaches the real
        # decoder and yields its parse error — count-and-drop either
        # way, no crash
        import struct as _struct

        # valid VP8 keyframe header: 3-byte tag (frame_type=0 key),
        # 0x9D012A start code, 14-bit width=320 / height=240
        vp8_body = (
            b"\x00\x00\x00"
            + b"\x9d\x01\x2a"
            + _struct.pack("<H", 320)
            + _struct.pack("<H", 240)
        )
        vp8_chunk = b"VP8 " + _struct.pack("<I", len(vp8_body)) + vp8_body
        lossy_webp = (
            b"RIFF" + _struct.pack("<I", 4 + len(vp8_chunk)) + b"WEBP" + vp8_chunk
        )
        # malformed lossy webp (zeroed keyframe start code) → typed
        # parse error from the container walk, still a row not a crash
        bad_body = b"\x00" * 10
        bad_chunk = b"VP8 " + _struct.pack("<I", len(bad_body)) + bad_body
        bad_webp = b"RIFF" + _struct.pack("<I", 4 + len(bad_chunk)) + b"WEBP" + bad_chunk
        media = spark.createDataFrame(
            [
                (1, bytearray(lossy_webp)),
                (2, bytearray(b"\xff\xd8\xff\xe0rest")),
                (3, bytearray(bad_webp)),
            ],
            "media_id long, payload binary",
        )
        rows = decode_image_features(media, fake=False).orderBy("media_id").collect()
        assert rows[0].features is None
        assert (rows[0].width, rows[0].height) == (320, 240)
        assert "external" in rows[0].decode_error
        assert rows[1].features is None and rows[1].decode_error
        assert rows[2].features is None
        assert "keyframe start code" in rows[2].decode_error

    def test_truncated_mid_scan_jpeg_is_row_error(self, spark):
        # ADVICE r3: a VALID jpeg cut inside the entropy-coded scan used
        # to surface as a bare IndexError from _BitReader._fill and
        # crash the task; it must land as a per-row decode_error
        import numpy as np

        from photo_dedup_spark.functions.multimodal import decode_image_features
        from tests.test_jpeg import encode_jpeg

        rng = np.random.RandomState(5)
        px = rng.randint(0, 256, size=(48, 64, 3)).astype("uint8")
        full = encode_jpeg(px)
        cut = full[: int(len(full) * 0.6)]  # mid-scan truncation
        media = spark.createDataFrame(
            [(1, bytearray(cut)), (2, bytearray(full))],
            "media_id long, payload binary",
        )
        rows = decode_image_features(media, fake=False).orderBy("media_id").collect()
        assert rows[0].features is None and rows[0].decode_error
        assert rows[1].features is not None and rows[1].decode_error is None

    def test_short_sof_and_corrupt_idat_are_row_errors(self, spark):
        # struct.error (short SOF body) and zlib.error (corrupt PNG
        # IDAT) must also become per-row errors under the broad catch
        from photo_dedup_spark.functions.multimodal import decode_image_features

        short_sof = b"\xff\xd8\xff\xc0\x00\x05\x08\x00"  # SOF0 cut short
        png_bad = (
            b"\x89PNG\r\n\x1a\n"
            + b"\x00\x00\x00\x0dIHDR"
            + b"\x00\x00\x00\x08\x00\x00\x00\x08\x08\x02\x00\x00\x00"
            + b"\x00\x00\x00\x00"
            + b"\x00\x00\x00\x04IDAT"
            + b"\xde\xad\xbe\xef"
            + b"\x00\x00\x00\x00"
            + b"\x00\x00\x00\x00IEND\xae\x42\x60\x82"
        )
        media = spark.createDataFrame(
            [(1, bytearray(short_sof)), (2, bytearray(png_bad))],
            "media_id long, payload binary",
        )
        rows = decode_image_features(media, fake=False).orderBy("media_id").collect()
        assert all(r.features is None and r.decode_error for r in rows)

    @staticmethod
    def _ppm(f, w, h):
        import numpy as np

        ys, xs = np.mgrid[0:h, 0:w]
        gray = f(ys / h, xs / w)
        px = np.clip(gray, 0, 255).astype("uint8")
        rgb = np.repeat(px[:, :, None], 3, axis=2)
        return b"P6\n# synthetic\n%d %d\n255\n" % (w, h) + rgb.tobytes()

    def test_netpbm_dhash_resize_invariant(self, spark):
        # transplant of reference test_core.py:1713-1742: same content
        # at two resolutions → identical dHash; different content →
        # far-apart dHash.  REAL decode, no fake path.
        import numpy as np

        from photo_dedup_spark.functions.multimodal import decode_image_features

        f1 = lambda v, u: 127 + 100 * np.sin(3 * u) * np.cos(2 * v)  # noqa: E731
        f2 = lambda v, u: 127 + 100 * np.cos(5 * u + 1) * np.sin(4 * v)  # noqa: E731
        media = spark.createDataFrame(
            [
                (1, bytearray(self._ppm(f1, 160, 120))),
                (2, bytearray(self._ppm(f1, 320, 240))),  # same content, 2× size
                (3, bytearray(self._ppm(f2, 160, 120))),  # different content
            ],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in decode_image_features(media).collect()}
        assert rows[1].width == 160 and rows[2].width == 320
        bits = {k: np.asarray(r.features) for k, r in rows.items()}
        same = int(np.sum(bits[1] != bits[2]))
        diff = int(np.sum(bits[1] != bits[3]))
        assert same <= 2, f"resize changed {same}/64 dhash bits"
        assert diff >= 16, f"different content only {diff}/64 bits apart"

    @staticmethod
    def _png(px, color_type, filter_type=0, depth=8, interlace=0, palette=None):
        """Minimal PNG encoder for golden tests: applies the forward
        scanline filter, deflates, wraps critical chunks (the exact
        inverse of functions/multimodal.decode_png)."""
        import struct
        import zlib

        import numpy as np

        h, w = px.shape[:2]
        n_ch = 1 if px.ndim == 2 else px.shape[2]
        flat = px.reshape(h, w * n_ch).astype(np.int64)
        bpp = n_ch
        raw = bytearray()
        prev = np.zeros(w * n_ch, dtype=np.int64)
        for y in range(h):
            line = flat[y]
            if filter_type == 0:
                enc = line
            elif filter_type == 1:
                left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
                enc = line - left
            elif filter_type == 2:
                enc = line - prev
            elif filter_type == 3:
                left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
                enc = line - (left + prev) // 2
            else:  # Paeth
                left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
                ul = np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
                p = left + prev - ul
                pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
                )
                enc = line - pred
            raw.append(filter_type)
            raw += (enc & 0xFF).astype(np.uint8).tobytes()
            prev = line

        def chunk(cid, body):
            return (
                struct.pack(">I", len(body))
                + cid
                + body
                + struct.pack(">I", zlib.crc32(cid + body))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if palette is not None:
            out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")

    def test_png_roundtrip_all_filters(self):
        # golden: decode(encode(px, f)) == px for every scanline filter
        import numpy as np

        from photo_dedup_spark.functions.multimodal import decode_png

        rng = np.random.RandomState(5)
        px = rng.randint(0, 256, size=(13, 11, 3)).astype(np.uint8)
        for f in range(5):
            w, h, c, got = decode_png(self._png(px, color_type=2, filter_type=f))
            assert (w, h, c) == (11, 13, 3)
            assert np.array_equal(got, px), f"filter {f} round-trip"
        gray = rng.randint(0, 256, size=(9, 7)).astype(np.uint8)
        for f in range(5):
            w, h, c, got = decode_png(self._png(gray, color_type=0, filter_type=f))
            assert (w, h, c) == (7, 9, 1)
            assert np.array_equal(got[:, :, 0], gray), f"gray filter {f}"
        # palette: indices resolve through PLTE to RGB
        pal = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
        idx = rng.randint(0, 16, size=(8, 6)).astype(np.uint8)
        w, h, c, got = decode_png(
            self._png(idx, color_type=3, filter_type=1, palette=pal)
        )
        assert (w, h, c) == (6, 8, 3)
        assert np.array_equal(got, pal[idx])

    def test_png_alpha_dropped_and_unsupported_rejected(self):
        import numpy as np
        import pytest as _pytest

        from photo_dedup_spark.functions.multimodal import decode_png

        rng = np.random.RandomState(6)
        rgba = rng.randint(0, 256, size=(6, 5, 4)).astype(np.uint8)
        w, h, c, got = decode_png(self._png(rgba, color_type=6, filter_type=4))
        assert c == 3 and np.array_equal(got, rgba[:, :, :3])
        ga = rng.randint(0, 256, size=(6, 5, 2)).astype(np.uint8)
        _, _, c, got = decode_png(self._png(ga, color_type=4, filter_type=2))
        assert c == 1 and np.array_equal(got[:, :, 0], ga[:, :, 0])
        gray = rng.randint(0, 256, size=(4, 4)).astype(np.uint8)
        with _pytest.raises(ValueError, match="unsupported PNG"):
            decode_png(self._png(gray, color_type=0, depth=16))
        with _pytest.raises(ValueError, match="unsupported PNG"):
            decode_png(self._png(gray, color_type=0, interlace=1))
        with _pytest.raises(ValueError, match="not PNG"):
            decode_png(b"\xff\xd8\xffjpeg")

    def test_png_dhash_matches_netpbm(self, spark):
        # the SAME image through the PPM path and the PNG path must give
        # the SAME dHash — codec-independent features, like the
        # reference hashing PIL output regardless of source format
        import numpy as np

        from photo_dedup_spark.functions.multimodal import decode_image_features

        f1 = lambda v, u: 127 + 100 * np.sin(3 * u) * np.cos(2 * v)  # noqa: E731
        ys, xs = np.mgrid[0:120, 0:160]
        px = np.clip(f1(ys / 120, xs / 160), 0, 255).astype(np.uint8)
        rgb = np.repeat(px[:, :, None], 3, axis=2)
        ppm = b"P6\n160 120\n255\n" + rgb.tobytes()
        media = spark.createDataFrame(
            [
                (1, bytearray(ppm)),
                (2, bytearray(self._png(rgb, color_type=2, filter_type=4))),
            ],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in decode_image_features(media).collect()}
        assert rows[2].decode_error is None
        assert (rows[2].width, rows[2].height, rows[2].channels) == (160, 120, 3)
        assert rows[1].features == rows[2].features

    def test_wav_decode_and_energy_profile(self, spark):
        import numpy as np

        from photo_dedup_spark.functions.multimodal import decode_audio_features

        def wav_bytes(freq, n=8000, rate=8000):
            import struct

            t = np.arange(n) / rate
            samples = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
            data = samples.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            return (
                b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )

        media = spark.createDataFrame(
            [(1, bytearray(wav_bytes(440))), (2, bytearray(b"\xffnotwav"))],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in decode_audio_features(media).collect()}
        assert rows[1].sample_rate == 8000 and rows[1].n_samples == 8000
        assert len(rows[1].features) == 64
        assert max(rows[1].features) == pytest.approx(1.0)
        assert rows[2].decode_error is not None


class TestSubstringVerifyLegs:
    def test_sa_leg_bit_identical_to_instr_leg(self, spark):
        """The size-tiered substring verify (q_substring_pairs): the
        suffix-array leg and the JVM instr leg must produce IDENTICAL
        pair sets on the same candidates — force all candidates down
        each leg in turn and compare, plus a plain-python referee.
        Containers here are large enough (~100 KB with many planted
        candidates) that the SA build/amortize path really runs."""
        import random

        from __spark_entry__ import verify_substring_candidates

        rng = random.Random(11)
        alphabet = "abcdefg \n"
        containers = {
            bid: "".join(rng.choice(alphabet) for _ in range(100_000))
            for bid in (1, 2)
        }
        rows, truth = [], set()
        sid = 100
        for bid, big in containers.items():
            for _ in range(12):
                if rng.random() < 0.5:  # planted slice — always present
                    i = rng.randrange(0, len(big) - 200)
                    small = big[i : i + rng.randrange(50, 200)]
                else:  # random text — almost surely absent
                    small = "".join(
                        rng.choice(alphabet) for _ in range(80)
                    )
                rows.append((sid, bid, small, big, len(small), len(big)))
                if small in big:
                    truth.add((sid, bid))
                sid += 1
        joined = spark.createDataFrame(
            rows,
            "small_id long, big_id long, text_a string, text_b string, "
            "small_len long, big_len long",
        )
        via_sa = {
            (r.small_id, r.big_id)
            for r in verify_substring_candidates(joined, sa_min_chars=0).collect()
        }
        via_instr = {
            (r.small_id, r.big_id)
            for r in verify_substring_candidates(
                joined, sa_min_chars=10**9
            ).collect()
        }
        assert via_sa == via_instr == truth
        assert truth, "no planted positives — vacuous"
        assert len(truth) < len(rows), "no negatives — vacuous"
