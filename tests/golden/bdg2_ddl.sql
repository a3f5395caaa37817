-- Schema generated for metadata.parquet
-- Generated on 2026-01-01 12:00:00
-- Number of columns: 6

-- Table Definition
CREATE TABLE IF NOT EXISTS "metadata" (
    "building_id" VARCHAR(20) NOT NULL,
    "site_id" VARCHAR(7) NOT NULL,
    "primaryspaceusage" VARCHAR(9) NOT NULL,
    "sqm" SMALLINT NOT NULL,
    "yearbuilt" SMALLINT,
    "numberoffloors" SMALLINT
);

-- Column Information:
-- building_id:
--   Type: string -> VARCHAR(20)
--   Nullable: False
--   Unique Values: 12
--   Recommendations:
--     * Consider as primary key candidate
--
-- site_id:
--   Type: string -> VARCHAR(7)
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--
-- primaryspaceusage:
--   Type: string -> VARCHAR(9)
--   Nullable: False
--   Unique Values: 5
--   Recommendations:
--
-- sqm:
--   Type: double -> SMALLINT
--   Nullable: False
--   Unique Values: 12
--   Recommendations:
--     * Consider as primary key candidate
--
-- yearbuilt:
--   Type: double -> SMALLINT
--   Nullable: True
--   Unique Values: 8
--   Recommendations:
--
-- numberoffloors:
--   Type: int -> SMALLINT
--   Nullable: True
--   Unique Values: 6
--   Recommendations:
--

-- Schema generated for raw.parquet
-- Generated on 2026-01-01 12:00:00
-- Number of columns: 4

-- Table Definition
CREATE TABLE IF NOT EXISTS "raw" (
    "timestamp" TIMESTAMP WITH TIME ZONE NOT NULL,
    "building_id" VARCHAR(20) NOT NULL,
    "meter_reading" NUMERIC(12,6),
    "meter" VARCHAR(12) NOT NULL
);

-- Column Information:
-- timestamp:
--   Type: timestamp -> TIMESTAMP WITH TIME ZONE
--   Nullable: False
--   Unique Values: 72
--   Recommendations:
--     * Low cardinality - consider using as categorical
--
-- building_id:
--   Type: string -> VARCHAR(20)
--   Nullable: False
--   Unique Values: 12
--   Recommendations:
--     * Low cardinality - consider using as categorical
--
-- meter_reading:
--   Type: double -> NUMERIC(12,6)
--   Nullable: True
--   Unique Values: 1000
--   Recommendations:
--
-- meter:
--   Type: string -> VARCHAR(12)
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Low cardinality - consider using as categorical
--

-- Schema generated for weather.parquet
-- Generated on 2026-01-01 12:00:00
-- Number of columns: 5

-- Table Definition
CREATE TABLE IF NOT EXISTS "weather" (
    "timestamp" TIMESTAMP WITH TIME ZONE NOT NULL,
    "site_id" VARCHAR(7) NOT NULL,
    "airTemperature" NUMERIC(12,6) NOT NULL,
    "windSpeed" NUMERIC(12,6),
    "precipDepth1HR" SMALLINT NOT NULL
);

-- Column Information:
-- timestamp:
--   Type: timestamp -> TIMESTAMP WITH TIME ZONE
--   Nullable: False
--   Unique Values: 72
--   Recommendations:
--
-- site_id:
--   Type: string -> VARCHAR(7)
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Low cardinality - consider using as categorical
--
-- airTemperature:
--   Type: double -> NUMERIC(12,6)
--   Nullable: False
--   Unique Values: 288
--   Recommendations:
--     * Consider as primary key candidate
--
-- windSpeed:
--   Type: double -> NUMERIC(12,6)
--   Nullable: True
--   Unique Values: 90
--   Recommendations:
--
-- precipDepth1HR:
--   Type: int -> SMALLINT
--   Nullable: False
--   Unique Values: 1
--   Recommendations:
--     * Low cardinality - consider using as categorical
--
